"""Text analysis functions for the documents pipeline — all JVM-side column
expressions (whole-stage codegen), zero Python UDFs.

These are the training-data-pipeline operators (language ID, quality
scoring, token counting, fingerprinting) expressed so the identical logic
is writable in ANSI SQL for the DuckDB oracle. Every function returns a
Column usable in select/filter/groupBy at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword heuristic
# language identifier. Word-boundary regexes so the same pattern string is
# valid in both Spark (Java regex) and DuckDB (RE2) oracles.
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|is|in|that|it|was|for)\b",
    "es": r"\b(el|la|de|que|y|los|las|una|por|con)\b",
    "fr": r"\b(le|la|les|des|est|une|dans|pour|que|avec)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\b",
    "zh": r"[一-鿿]",
}
# Deterministic tie-break: fixed priority order.
LANG_ORDER = ["en", "es", "fr", "de", "zh"]


def lang_scores(text: Column) -> dict[str, Column]:
    lower = F.lower(text)
    return {
        lang: F.size(F.regexp_extract_all(lower, F.lit(pat), F.lit(0)))
        for lang, pat in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """Argmax language by marker-hit count; 'und' when nothing matches.

    Ties resolve by LANG_ORDER (first wins) — the oracle SQL encodes the
    same ladder, so results are deterministic across engines.
    """
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in reversed(LANG_ORDER):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def token_count(text: Column) -> Column:
    """Whitespace tokenization = count of non-whitespace runs; empty or
    whitespace-only text counts 0. (Counting split() pieces instead would
    phantom-count when text starts/ends with non-space whitespace — trim()
    strips only ASCII spaces, so 'foo bar\\n' would split to 3 pieces.)"""
    return F.size(F.regexp_extract_all(text, F.lit(r"\S+"), F.lit(0)))


def word_tokens(text: Column) -> Column:
    """BPE-ish regex tokens: word pieces, numbers, or single non-space
    punctuation — the standard pretokenizer shape."""
    return F.regexp_extract_all(
        F.lower(text), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0)
    )


def _raw_metrics(text: Column) -> dict[str, Column]:
    """Unrounded quality signals. Each ratio is a single exactly-rounded
    IEEE division — deterministic across engines without any rounding."""
    n = F.length(text).cast("double")
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("double")
    digit = F.length(F.regexp_replace(text, r"[^0-9]", "")).cast("double")
    space = F.length(F.regexp_replace(text, r"[^ ]", "")).cast("double")
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()-]", "")).cast("double")
    words = token_count(text).cast("double")
    safe_n = F.when(n > 0, n)
    return {
        "n_chars": n,
        "n_words": words,
        "alpha_ratio": alpha / safe_n,
        "digit_ratio": digit / safe_n,
        "space_ratio": space / safe_n,
        "punct_ratio": punct / safe_n,
        "mean_word_len": F.when(words > 0, (n - space) / words),
    }


def quality_metrics(text: Column) -> dict[str, Column]:
    """Heuristic document quality signals (length, alpha/punct/space ratios,
    mean word length) — the usual pre-training corpus filters."""
    m = _raw_metrics(text)
    out = {"n_chars": m["n_chars"], "n_words": m["n_words"]}
    for k in ("alpha_ratio", "digit_ratio", "space_ratio", "punct_ratio", "mean_word_len"):
        out[k] = F.round(m[k], 6)
    return out


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score; monotone in alpha ratio, penalizes
    digit/punct overload and degenerate word length.

    Built from the UNROUNDED ratios: combining pre-rounded 6-digit ratios
    with *0.5/*0.2 weights concentrates results exactly on rounding
    half-boundaries, where engine-dependent last-ulp noise flips the 6th
    digit. Raw ratios are irrational-ish, so boundary hits are measure-zero.
    """
    m = _raw_metrics(text)
    word_len_ok = (
        F.when((m["mean_word_len"] >= 2.5) & (m["mean_word_len"] <= 12.0), 1.0)
        .otherwise(0.0)
    )
    raw = (
        m["alpha_ratio"] * 0.5
        + (1.0 - F.least(m["digit_ratio"] * 4.0, F.lit(1.0))) * 0.2
        + (1.0 - F.least(m["punct_ratio"] * 4.0, F.lit(1.0))) * 0.1
        + word_len_ok * 0.2
    )
    # empty text null-propagates through the ratios; the documented contract
    # is a [0,1] score, so empty docs land at 0 instead of NULL (a NULL here
    # makes quality>=t and quality<t BOTH drop the row)
    return F.round(F.coalesce(raw, F.lit(0.0)), 6)


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip non-alnum,
    collapse whitespace."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^a-z0-9\s]", " ")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def fingerprint_md5(text: Column) -> Column:
    """Content fingerprint = md5 of the normalized text (md5 exists in both
    Spark and DuckDB => oracle-checkable exact dedup key)."""
    return F.md5(normalize_text(text))


# ---------------------------------------------------------------- PII scrub

#: (category, pattern, replacement) in APPLICATION ORDER. Patterns are
#: written in the Java-regex/RE2 common subset (non-capturing groups, \b,
#: \d, bounded repeats — no backrefs, no lookaround) so the identical
#: pattern string runs in Spark and in the DuckDB oracle. Order matters:
#: emails go first (their local parts can contain digit runs), SSN (3-2-4)
#: and card (4x4) shapes are disjoint from phone (3-3-4), and IPv4 runs
#: last over whatever digit.dot runs survive.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("card", r"\b(?:\d{4}[- ]){3}\d{4}\b", "<CARD>"),
    ("phone", r"\b(?:\+?1[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IPV4>"),
]


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-category PII hit counts on the RAW text (counts are
    per-pattern, so a token matched by two categories counts in both —
    the scrub itself applies patterns in order, documented above)."""
    return {
        name: F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))
        for name, pat, _ in PII_PATTERNS
    }


def pii_scrub(text: Column) -> Column:
    """Training-data PII redaction: chained JVM-side regexp_replace in
    PII_PATTERNS order — emails, SSNs, card numbers, phone numbers, IPv4
    addresses each collapse to a typed placeholder token. Zero UDFs, one
    narrow projection; the same chain is writable in ANSI SQL (DuckDB
    regexp_replace with the 'g' flag) for the oracle."""
    out = text
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


# ------------------------------------------------------- repetition signals


def repetition_metrics(text: Column) -> dict[str, Column]:
    """Gopher-style repetition quality signals, all JVM-side array
    expressions (no UDFs, no shuffle — per-row arithmetic):

    - ``frac_dup_words``: 1 - distinct/total over whitespace tokens — the
      word-level repetition fraction;
    - ``frac_dup_2grams``: same over consecutive word 2-grams (repeated
      phrasing that word-level dedup misses);
    - ``words``: the token count the fractions are normalized by (0-word
      texts yield NULL fractions, matching SQL NULL division).

    A high dup fraction flags boilerplate/spam documents for the quality
    gate; thresholds are the caller's policy (Gopher used ~0.3 for
    2-grams).
    """
    toks = F.split(F.trim(text), r"\s+")
    toks = F.filter(toks, lambda t: t != "")
    n = F.size(toks)
    grams = F.transform(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        lambda x, i: F.concat_ws(" ", x, F.element_at(toks, i + 2)),
    )
    ng = F.size(grams)
    return {
        "words": n,
        "frac_dup_words": F.when(
            n > 0, 1.0 - F.size(F.array_distinct(toks)) / n
        ),
        "frac_dup_2grams": F.when(
            ng > 0, 1.0 - F.size(F.array_distinct(grams)) / ng
        ),
    }
