"""Document deduplication at corpus scale.

Four families, all shuffle-conscious:

- exact: fingerprint hash-groupBy — one shuffle on a 32-byte key.
- n-gram Jaccard: exact set similarity over character shingles; candidate
  generation is vocabulary-adaptive (bounded-vocab corpora verify via
  48-byte bitmaps + vectorized popcount through a length-blocked
  equi-join; large-vocab corpora use a rarity-ordered prefix filter with
  ids-only joins — see ngram_jaccard_pairs).
- MinHash + LSH: the 100 TB path — 5-gram signatures (tuned so background
  similarity stays off the s-curve) banded so candidate generation is an
  equi-join on (band_idx, band_hash); only candidates get the exact
  3-gram-Jaccard verify. No cross join anywhere.
- SimHash: 64-bit signature via bit-vote aggregate over token hashes;
  near-dup = Hamming<=k found by 4x16-bit band blocking (pigeonhole: any
  pair with Hamming<=3 shares at least one of 4 bands).

The reference's only dedup is dropDuplicates on PK columns
(duplicate_detection.py:75-80); the near-dup family is the
training-data-pipeline extension required by the brief.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import (
    fingerprint_md5,
    normalize_text,
    word_tokens,
)


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's shuffle width.

    Pair-join probe sides here descend from a single parquet scan whose
    *estimated* size (pre-derivation) is tiny, so Catalyst broadcasts the
    build side and the join's parallelism collapses to the probe side's
    file-partition count (1 for a one-file table). The derived columns
    (shingle/signature arrays) are orders of magnitude larger than the
    estimate — spread the probe side explicitly so the join runs wide.
    """
    raw = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    try:
        n = int(raw)
    except ValueError:  # e.g. "auto" under AQE-managed platforms
        n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


def _derive(df: DataFrame, keep: list, **derived: Column) -> DataFrame:
    """Spread the input, then compute expensive derived columns exactly once.

    Shingle/signature expressions are interpreted higher-order functions
    costing milliseconds per row. Two plan hazards make them dominate
    whole queries if computed naively from a raw scan:
    (1) the scan is one partition (one file) => the derivation runs on one
        core; repartition FIRST so it runs at cluster width;
    (2) Catalyst clones deterministic projections into pushed-down filters
        and collapsed projects, silently re-evaluating the pipeline 2-3x
        per row per plan branch. The always-true spark_partition_id()
        guard marks each derived column non-deterministic, pinning it to
        exactly one evaluation in exactly this projection.
    """
    return _guard(_spread(df), keep, **derived)


def _guard(df: DataFrame, keep: list, **derived: Column) -> DataFrame:
    """Guarded projection without the repartition (for later stages that
    are already spread). Each stage materializes its columns, so lambdas in
    the NEXT stage reference cheap column values instead of inlining the
    whole upstream expression per array element (the normalize-regex chain
    re-run per shingle was a 30x hit)."""
    return df.select(
        *keep,
        *[
            F.when(F.spark_partition_id() >= 0, expr).alias(name)
            for name, expr in derived.items()
        ],
    )


@F.pandas_udf(T.IntegerType())  # DataType object: string DDL would need an
def _intersect_size(a, b):      # active session at import time
    import numpy as np
    import pandas as pd

    out = np.empty(len(a), dtype=np.int32)
    for i, (x, y) in enumerate(zip(a, b)):
        out[i] = np.intersect1d(x, y, assume_unique=True).size
    return pd.Series(out)


_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)


def make_bitmap_udf(vocab_sorted: "np.ndarray"):
    """shingle-array -> fixed-width set bitmap over a (bounded, sorted)
    vocabulary: bit i set iff vocab_sorted[i] in the set. ceil(V/64) uint64
    words as bytes — 48 B at V=377 vs ~1.1 KB for the int64 array, shrinking
    both the pair-join shuffle and the verify arithmetic."""
    nwords = max(1, (len(vocab_sorted) + 63) // 64)

    nbits = nwords * 64

    @F.pandas_udf(T.BinaryType())
    def _bm(sh: pd.Series) -> pd.Series:
        import numpy as np

        # one bool scatter + packbits per doc (np.bitwise_or.at is an
        # unbuffered ufunc at ~1us/element — 100x slower)
        mask = np.zeros((len(sh), nbits), dtype=bool)
        for i, arr in enumerate(sh):
            mask[i, np.searchsorted(vocab_sorted, np.asarray(arr, dtype=np.int64))] = True
        packed = np.packbits(mask, axis=1, bitorder="little")
        return pd.Series([row.tobytes() for row in packed])

    return _bm


def make_bitmap_intersect_udf(nwords: int):
    """(bitmap_a, bitmap_b) -> |a AND b| via one vectorized AND + LUT
    popcount over the WHOLE Arrow batch — no per-pair Python, ~40 ns/pair
    vs ~15 us for np.intersect1d on the unpacked arrays."""

    @F.pandas_udf(T.IntegerType())
    def _inter(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np

        if len(a) == 0:
            return pd.Series([], dtype="int32")
        X = np.frombuffer(b"".join(a.tolist()), dtype=np.uint64).reshape(-1, nwords)
        Y = np.frombuffer(b"".join(b.tolist()), dtype=np.uint64).reshape(-1, nwords)
        v = (X & Y).view(np.uint8)
        return pd.Series(_POP8[v].sum(axis=1).astype(np.int32))

    return _inter


def _pack_shingles_np(s: str, k: int = 3):
    """Sorted distinct k-byte-packed character shingles of a normalized
    (ASCII: [a-z0-9 ]) string as int64 — injective vs the substring set, so
    every set-similarity (Jaccard intersection/union size) is identical to
    operating on the substrings themselves, at numpy speed."""
    import numpy as np

    b = np.frombuffer(s.encode(), dtype=np.uint8).astype(np.int64)
    if len(b) >= k:
        n = len(b) - k + 1
        v = np.zeros(n, dtype=np.int64)
        for i in range(k):
            v |= b[i : i + n] << (8 * (k - 1 - i))
    else:  # degenerate doc: single short shingle, zero-padded (parity with
        #  substr(s, 1, k) of a short string)
        x = 0
        for i in range(k):
            x = (x << 8) | (int(b[i]) if i < len(b) else 0)
        v = np.array([x], dtype=np.int64)
    return np.unique(v)


def make_shingle_hashes_udf(k: int = 3):
    """Vectorized replacement for the interpreted transform/substr/xxhash64
    chain (~300 interpreted expr evals per row -> a few numpy ops per row)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _shingle_hashes(nrm: pd.Series) -> pd.Series:
        return pd.Series([_pack_shingles_np(s or "", k) for s in nrm])

    return _shingle_hashes


def _splitmix64(x):
    """Deterministic 64-bit mix (splitmix64 finalizer), numpy-vectorized."""
    import numpy as np

    with np.errstate(over="ignore"):  # uint64 wrap IS the mix function
        x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
        x ^= x >> np.uint64(30)
        x = (x * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
        x ^= x >> np.uint64(27)
        x = (x * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
        return x ^ (x >> np.uint64(31))


def _minhash_consts(n_hashes: int):
    import numpy as np

    j = np.arange(n_hashes, dtype=np.uint64)
    a = _splitmix64(j * np.uint64(2)) | np.uint64(1)  # odd multipliers
    b = _splitmix64(j * np.uint64(2) + np.uint64(1))
    return a, b


def make_minhash_bands_udf(n_hashes: int = 64, bands: int = 16):
    """Returns a pandas UDF: packed-shingle array -> array of `bands` band
    hashes. Each band hash folds rows=n_hashes/bands MinHash minima through
    a splitmix64 chain — one numpy matrix op per doc instead of
    n_hashes*|shingles| interpreted xxhash64 calls (~100x)."""
    rows = n_hashes // bands

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _bands(sh: pd.Series) -> pd.Series:
        import numpy as np

        A, B = _minhash_consts(n_hashes)
        out = []
        with np.errstate(over="ignore"):
            for arr in sh:
                h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
                # (|sh| x n_hashes) multiply-add family; column minima are
                # the MinHash signature
                m = (h[:, None] * A[None, :] + B[None, :]).min(axis=0)
                bh = np.zeros(bands, dtype=np.uint64)
                g = m.reshape(bands, rows)
                for r in range(rows):
                    bh = _splitmix64(bh ^ g[:, r])
                out.append(bh.astype(np.int64))
        return pd.Series(out)

    return _bands


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical (normalized) documents: one row per
    duplicated fingerprint with the keeper (min id) and the group size."""
    return (
        df.select(F.col(id_col).alias("doc_id"), fingerprint_md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") > 1)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] | None = None,
    length_block: int | None = 64,
    prefix_filter: bool = False,
    bitmap_max_vocab: int = 8192,
) -> DataFrame:
    """Near-duplicate pairs by exact k-shingle Jaccard >= threshold.

    EXACT (oracle-checked): candidate generation only ever prunes pairs
    that provably cannot reach the threshold, via two sound filters —
    length-ratio (J >= t implies min(|a|,|b|) >= t*max(|a|,|b|); applied
    exactly, plus equal-or-adjacent length-bucket blocking to keep the
    join an equi-join) and optionally a rarity-ordered prefix filter.

    The candidate strategy is vocabulary-adaptive, because char-k-gram
    corpora split into two regimes:

    - tiny vocabulary (synthetic/limited charset; the sf corpus has 377
      distinct trigrams, median document frequency 1062/5000): posting
      lists are corpus-length, so prefix filtering degenerates (measured
      29M candidates vs blocking's 2.8M). Sets over a bounded vocabulary
      are BITMAPS though: when the distinct-shingle probe comes back
      <= bitmap_max_vocab, the verify ships ceil(V/64)-word bitmaps
      (48 B at V=377) through the block join and scores each Arrow batch
      with one vectorized AND+popcount — ~40 ns/pair vs ~15 us/pair for
      array intersection, so even million-pair candidate sets are cheap.
    - large vocabulary (real web text, larger k): postings are short and
      skew-bounded, so prefix_filter=True generates candidates from an
      ids-only equi-join on rarity-ordered prefix shingles
      (posting-list-bounded instead of quadratic-per-block) and verifies
      only that small set with array intersection.

    block_cols (e.g. language) are part of the query semantics and stay in
    every join. No cross join anywhere. At 10^12 docs: the vocab probe is
    a bounded-output distinct (or a sample), the persisted shingle table
    becomes a staged table, and both the bitmap-block join (48-byte
    payloads) and the prefix join (24-byte ids) shuffle small rows.
    """
    block_cols = list(block_cols or [])
    # Stage 1: materialize the normalized text (regex chain, once per row).
    # Stage 2: shingle-hash set from that column. Without the staging, the
    # normalization would be inlined into the shingle lambda and re-run per
    # array element.
    nrm = _derive(
        df,
        keep=[F.col(id_col).alias("doc_id"), *[F.col(c) for c in block_cols]],
        nrm=normalize_text(F.col(text_col)),
    )
    sh = (
        nrm.select(
            "doc_id", *block_cols, make_shingle_hashes_udf(k)(F.col("nrm")).alias("sh")
        )
        .withColumn("n_sh", F.size("sh"))
        .persist()  # both sides of the candidate join read this
    )

    i = F.col("inter").cast("double")
    union = F.col("n_a").cast("double") + F.col("n_b").cast("double") - i
    jac = F.when(union > 0, F.round(i / union, 6)).otherwise(F.lit(0.0))

    if prefix_filter:
        # Distributed rarity prefix — NOTHING comes to the driver. The
        # rarity ORDER is just the lexicographic (document_frequency,
        # shingle) tuple, so no dense integer rank (and no vocab collect)
        # is needed: explode the persisted shingle table, equi-join the
        # per-shingle DF counts back on, and keep each doc's
        # p = n - ceil(t*n) + 1 smallest (c, g) via a row_number window
        # PARTITIONED BY doc_id — per-doc top-p, fully parallel, no global
        # sort, vocab never leaves the cluster. Soundness (SSJoin/PPJoin
        # prefix theorem): under ANY global total order, |a .. b| >= alpha
        # implies the length-(n - alpha + 1) prefixes intersect, and
        # J >= t gives alpha >= ceil(t*n) for either side; rarity order is
        # pure performance (ubiquitous shingles fall outside every prefix).
        ex = sh.select("doc_id", *block_cols, "n_sh", F.explode("sh").alias("g"))
        dfreq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
        p_len = F.greatest(
            F.lit(1),
            F.col("n_sh")
            - F.ceil(F.col("n_sh") * F.lit(threshold) - F.lit(1e-9)).cast("int")
            + F.lit(1),
        )
        rn = F.row_number().over(Window.partitionBy("doc_id").orderBy("c", "g"))
        pref = (
            ex.join(dfreq, "g")
            .withColumn("rn", rn)
            .filter(F.col("rn") <= p_len)
            .select("doc_id", *block_cols, "n_sh", "g")
        )
        a, b = pref.alias("a"), pref.alias("b")
        cond = (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id"))
        for c in block_cols:
            cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
        # exact length-ratio bound (tiny epsilon slack keeps it sound
        # against float rounding; it only ever ADMITS borderline pairs)
        cond = cond & (
            F.least("a.n_sh", "b.n_sh").cast("double")
            >= F.lit(threshold) * F.greatest("a.n_sh", "b.n_sh") - F.lit(1e-9)
        )
        cand_ids = (
            a.join(b, cond)
            .select(
                F.col("a.doc_id").alias("doc_id_a"),
                F.col("b.doc_id").alias("doc_id_b"),
            )
            .dropDuplicates(["doc_id_a", "doc_id_b"])
        )
        sh_tbl = sh.select("doc_id", "sh", "n_sh")
        pairs = cand_ids.join(
            sh_tbl.select(
                F.col("doc_id").alias("doc_id_a"),
                F.col("sh").alias("sh_a"),
                F.col("n_sh").alias("n_a"),
            ),
            "doc_id_a",
        ).join(
            sh_tbl.select(
                F.col("doc_id").alias("doc_id_b"),
                F.col("sh").alias("sh_b"),
                F.col("n_sh").alias("n_b"),
            ),
            "doc_id_b",
        )
        sized = pairs.select(
            "doc_id_a",
            "doc_id_b",
            "n_a",
            "n_b",
            _intersect_size(F.col("sh_a"), F.col("sh_b")).alias("inter"),
        )
        return sized.select("doc_id_a", "doc_id_b", jac.alias("jaccard")).filter(
            F.col("jaccard") >= threshold
        )

    # --- block path: (block, length-bucket) equi-join --------------------
    # |bucket(a) - bucket(b)| <= 1 expressed as an exploded probe joined on
    # bucket equality — a real hash join with parallelism, never a nested
    # loop — plus the exact length-ratio bound as a cheap JVM predicate.
    # Bounded-vocab probe: one distinct with LIMIT (bounded output however
    # large the corpus); small vocab switches the verify payload to bitmaps.
    vocab_vals = [
        r["g"]
        for r in sh.select(F.explode("sh").alias("g"))
        .distinct()
        .limit(bitmap_max_vocab + 1)
        .collect()
    ]
    use_bitmap = len(vocab_vals) <= bitmap_max_vocab
    if use_bitmap:
        import numpy as np

        vocab_sorted = np.sort(np.asarray(vocab_vals, dtype=np.int64))
        nwords = max(1, (len(vocab_sorted) + 63) // 64)
        # Pin the bitmap column in cache BEFORE the self-join. An unpinned
        # Python-UDF projection above a cached plan has free placement: on
        # cold runs Catalyst evaluates it after the join — once per
        # candidate-pair side (~2.7M bitmap builds at sf0.1, 80s) instead of
        # once per doc row (15k, <2s). persist+count makes the join read
        # 48-byte bitmaps out of the cache on every plan.
        prev, sh = sh, _guard(
            sh,
            keep=["doc_id", *block_cols, "n_sh"],
            bm=make_bitmap_udf(vocab_sorted)(F.col("sh")),
        ).persist()
        sh.count()
        prev.unpersist()  # superseded: the bm frame carries everything needed
        payload, score = "bm", make_bitmap_intersect_udf(nwords)
    else:
        payload, score = "sh", _intersect_size
    if length_block:
        sh = sh.withColumn("__bkt", F.floor(F.col("n_sh") / F.lit(length_block)))
        lb = F.col("__bkt")
        a = sh.withColumn("__bkt", F.explode(F.array(lb - 1, lb, lb + 1))).alias("a")
        b = sh.alias("b")
    else:
        a, b = sh.alias("a"), sh.alias("b")
    cond = F.col("a.doc_id") < F.col("b.doc_id")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    if length_block:
        cond = cond & (F.col("a.__bkt") == F.col("b.__bkt"))
    cond = cond & (
        F.least("a.n_sh", "b.n_sh").cast("double")
        >= F.lit(threshold) * F.greatest("a.n_sh", "b.n_sh") - F.lit(1e-9)
    )
    pairs = a.join(b, cond)
    # Pair scoring via an Arrow pandas UDF: JVM array_intersect evaluates
    # interpreted (higher-order/collection exprs are CodegenFallback) at
    # ~1ms per ~300-element pair; the UDF is either the batch-vectorized
    # bitmap AND+popcount (~40ns/pair) or numpy intersect on the sorted
    # int64 arrays (~15us including Arrow transfer). The Python-eval node
    # is also a natural barrier — Catalyst cannot push the threshold filter
    # below it into the join condition.
    sized = pairs.select(
        F.col("a.doc_id").alias("doc_id_a"),
        F.col("b.doc_id").alias("doc_id_b"),
        F.col("a.n_sh").alias("n_a"),
        F.col("b.n_sh").alias("n_b"),
        score(F.col(f"a.{payload}"), F.col(f"b.{payload}")).alias("inter"),
    )
    return (
        sized.select("doc_id_a", "doc_id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    n_hashes: int = 256,
    bands: int = 32,
    sig_k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash LSH near-dup pairs, verified with exact k-shingle Jaccard.

    The SIGNATURE shingle size (sig_k) is deliberately larger than the
    verify shingle size (k): char-3-gram sets of unrelated natural-text
    docs share a background Jaccard of ~0.45 (the 3-gram vocabulary is
    tiny), so any s-curve permissive enough to catch J3>=0.8 pairs also
    admits a large fraction of ALL pairs — measured 6.1M candidate pairs
    on a 5k-doc corpus at (64 hashes, 16 bands, rows=4). 5-gram sets drop
    the background to ~0.17 while J3>=0.8 near-dups keep J5>=0.83, so
    (256 hashes, 32 bands, rows=8) gives P(candidate) ~= 1e-4 for
    background pairs and >=0.9997 for every true pair (~1k candidates on
    the same corpus). Precision stays exact — candidates are re-verified
    against the true k-shingle Jaccard; only recall is probabilistic.
    At 10^12 docs the band equi-join is the only corpus-wide shuffle and
    its keys are 16 bytes.
    """
    nrm = _derive(
        df,
        keep=[F.col(id_col).alias("doc_id")],
        nrm=normalize_text(F.col(text_col)),
    )
    shf = _guard(
        nrm.select("doc_id", "nrm"),
        keep=["doc_id"],
        sh=make_shingle_hashes_udf(k)(F.col("nrm")),
        sh_sig=make_shingle_hashes_udf(sig_k)(F.col("nrm")),
    )
    bands_udf = make_minhash_bands_udf(n_hashes, bands)
    sig = shf.select(
        "doc_id",
        "sh",
        F.size("sh").alias("n_sh"),
        bands_udf(F.col("sh_sig")).alias("bhs"),
    ).persist()
    # ^ sig feeds three plan branches (band explode + both verify joins);
    # without the persist the shingle+minhash UDFs re-run per branch. At
    # corpus scale this materialization is a staged table write instead.
    # Candidate generation is ids-only: the band self-join and the pair
    # dedup shuffle 24-byte rows, never the ~KB shingle arrays. Shingles
    # re-join onto the (tiny) candidate set for verification — at corpus
    # scale candidates << docs, so this is the only layout that survives.
    banded = sig.select("doc_id", F.posexplode("bhs").alias("band", "bh"))
    a, b = banded.alias("a"), banded.alias("b")
    cand_ids = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    sh_tbl = sig.select("doc_id", "sh", "n_sh")
    cand = (
        cand_ids.join(
            sh_tbl.select(
                F.col("doc_id").alias("doc_id_a"),
                F.col("sh").alias("sh_a"),
                F.col("n_sh").alias("n_a"),
            ),
            "doc_id_a",
        )
        .join(
            sh_tbl.select(
                F.col("doc_id").alias("doc_id_b"),
                F.col("sh").alias("sh_b"),
                F.col("n_sh").alias("n_b"),
            ),
            "doc_id_b",
        )
    )
    sized = cand.select(
        "doc_id_a",
        "doc_id_b",
        "n_a",
        "n_b",
        _intersect_size(F.col("sh_a"), F.col("sh_b")).alias("inter"),
    )
    i = F.col("inter").cast("double")
    union = F.col("n_a").cast("double") + F.col("n_b").cast("double") - i
    jac = F.when(union > 0, F.round(i / union, 6)).otherwise(F.lit(0.0))
    return sized.select("doc_id_a", "doc_id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


@F.pandas_udf(T.LongType())
def _simhash64_np(hs: pd.Series) -> pd.Series:
    """Vectorized SimHash: per doc, bit j of the signature = sign of the
    sum of +/-1 votes from bit j of each token hash (ties -> 0), at numpy
    speed (unpackbits) instead of 64 interpreted per-bit folds per doc."""
    import numpy as np

    out = np.empty(len(hs), dtype=np.int64)
    weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))
    for i, arr in enumerate(hs):
        h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
        if len(h) == 0:
            out[i] = 0
            continue
        # little-endian byte view -> (n, 64) bit matrix, columns = bit 0..63
        bits = np.unpackbits(
            h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        )
        votes = bits.sum(axis=0, dtype=np.int64) * 2 - len(h)
        sig = (weights[votes > 0]).sum(dtype=np.uint64)
        out[i] = sig.astype(np.int64)  # wrapping reinterpret, top bit safe
    return pd.Series(out)


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= max_hamming.

    Blocking: split the 64-bit signature into 4 16-bit bands; any pair
    within Hamming<=3 agrees on >=1 band (pigeonhole), so candidates come
    from 4 equi-joins (expressed as one join on exploded bands)."""
    hashed = _derive(
        df,
        keep=[F.col(id_col).alias("doc_id")],
        hs=F.transform(word_tokens(F.col(text_col)), lambda t: F.xxhash64(t)),
    )
    sig = hashed.select("doc_id", _simhash64_np(F.col("hs")).alias("sig"))
    banded = sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sig"), b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bh"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sig", "bb.band", "bb.bh")
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )


def dedup_components(
    pairs: DataFrame,
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-dup pair graph: every document that
    appears in a pair gets its component id (the min doc_id reachable through
    pair edges) and the component size — the keeper-selection step that turns
    pairwise near-dup output into dedup groups (keep ``doc_id ==
    component_id``, drop the rest).

    Algorithm: min-label propagation — labels start as the node id; each
    round every node takes the min of its own and its neighbors' labels;
    fixpoint in O(graph diameter) rounds. Near-dup components are small and
    dense (diameter is almost always <= 3), so the round count is tiny and
    each round is one equi-join + one aggregate. The label column is
    monotonically non-increasing, so the fixpoint test is "sum of labels
    unchanged" — one scalar per round, no row-wise diff join.
    ``localCheckpoint`` truncates the plan each round (iterative joins
    otherwise stack lineage and re-execute the whole history every action).
    At 10^12-doc scale with adversarial long chains, swap the loop body for
    alternating large-star/small-star (Kiveris et al., "Connected Components
    in MapReduce"), which converges in O(log n) rounds with the same
    join+agg shape; the interface stays identical.
    """
    e1 = pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
    edges = e1.unionByName(
        e1.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).persist()
    labels = (
        edges.select(F.col("s").alias("node")).distinct().withColumn("comp", F.col("node"))
    )
    prev_sum = None
    for _ in range(max_iter):
        labels = labels.localCheckpoint(eager=True)
        nb = (
            edges.join(labels, edges["s"] == labels["node"])
            .groupBy(F.col("d").alias("node2"))
            .agg(F.min("comp").alias("nb_min"))
        )
        labels = labels.join(nb, labels["node"] == nb["node2"], "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce("nb_min", "comp")).alias("comp"),
        )
        cur = labels.agg(F.sum("comp")).first()[0]
        if cur == prev_sum:
            break
        prev_sum = cur
    # truncate the final labels' lineage (the last round's join still hangs
    # off `edges`), then release the cached edge blocks — the caller gets a
    # frame with no dependency on the persisted RDDs
    labels = labels.localCheckpoint(eager=True)
    edges.unpersist()
    sizes = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("group_size"))
    return labels.join(sizes, "comp").select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("component_id"),
        "group_size",
    )


# ---------------------------------------------------------------- winnowing


def _winnow_one(s: str, k: int, w: int):
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken MOSS algorithm) of
    one normalized string: positional k-gram packed shingles -> splitmix64
    hashes -> per-window-of-w minimum (rightmost on ties) -> distinct
    selected hashes. Pure numpy: the window minima come from one
    sliding_window_view reduction, no per-position Python."""
    import numpy as np

    b = np.frombuffer(s.encode(), dtype=np.uint8).astype(np.int64)
    if len(b) < k:
        x = 0
        for i in range(k):
            x = (x << 8) | (int(b[i]) if i < len(b) else 0)
        v = np.array([x], dtype=np.int64)
    else:
        n = len(b) - k + 1
        v = np.zeros(n, dtype=np.int64)
        for i in range(k):
            v |= b[i : i + n] << (8 * (k - 1 - i))
    with np.errstate(over="ignore"):  # uint64 wrap is the mix function
        h = _splitmix64(v.astype(np.uint64))
    if len(h) <= w:
        return np.unique(h[np.argmin(h) :: len(h)].astype(np.int64))[:1]
    wins = np.lib.stride_tricks.sliding_window_view(h, w)
    # rightmost minimum per window: argmin over the reversed window
    idx = (w - 1) - np.argmin(wins[:, ::-1], axis=1)
    pos = np.unique(np.arange(len(wins)) + idx)
    return np.unique(h[pos].astype(np.int64))


def make_winnow_udf(k: int = 5, w: int = 4):
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _winnow(nrm: pd.Series) -> pd.Series:
        return pd.Series([_winnow_one(s or "", k, w) for s in nrm])

    return _winnow


def winnow_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document pairs whose winnowing-fingerprint containment
    (shared / smaller fingerprint set) >= threshold.

    The rolling-hash fingerprint variant of the dedup family (MOSS-style
    plagiarism/near-dup detection): winnowing guarantees any shared
    substring of length >= k+w-1 contributes at least one common selected
    hash, so long-overlap pairs cannot be missed; the containment ratio
    (not an absolute count) separates real overlap from the background of
    common-word k-grams. Candidate generation is an ids-only equi-join on
    fingerprint value (same scale posture as minhash_lsh_pairs: 16-byte
    shuffle rows, fingerprints ~2/(w+1) of the shingle count); no
    re-verification pass is needed because a fingerprint match IS an exact
    k-gram match.
    """
    nrm = _derive(
        df,
        keep=[F.col(id_col).alias("doc_id")],
        nrm=normalize_text(F.col(text_col)),
    )
    fps = nrm.select("doc_id", make_winnow_udf(k, w)(F.col("nrm")).alias("fps"))
    sized = fps.select("doc_id", F.explode("fps").alias("fp"), F.size("fps").alias("n_fp"))
    a, b = sized.alias("a"), sized.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("shared_fps"),
            F.first("a.n_fp").alias("n_a"),
            F.first("b.n_fp").alias("n_b"),
        )
    )
    containment = F.round(
        F.col("shared_fps") / F.least("n_a", "n_b").cast("double"), 6
    )
    return shared.select(
        "doc_id_a", "doc_id_b", "shared_fps", containment.alias("containment")
    ).filter(F.col("containment") >= threshold)


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    delim: str = "\n",
) -> DataFrame:
    """Corpus-wide line-level exact deduplication (the Dolma/RefinedWeb
    preprocessing step): every line keeps only its FIRST occurrence across
    the whole corpus — first = minimal (id, position) — and each document
    is reassembled from its surviving lines in original order. Documents
    whose every line already appeared earlier vanish entirely (fully
    deduplicated), matching the usual drop-empty-docs convention.

    Scale shape: lines are identified by xxhash64, so the winner-election
    groupBy shuffles (hash, id, pos) triples — never the line text (the
    same ids-only discipline as the MinHash/SimHash families; 64-bit
    collisions would merge distinct lines at ~2^-64 per pair, the
    documented hash-identity stance). The rejoin is a hash equi-join on
    the same key, and reassembly is one grouped collect_list bounded by
    each document's own line count. ``delim`` is used as a Java regex for
    the split and as a literal for the rejoin — single-character
    delimiters like newline behave identically in both roles.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), delim, -1)).alias(
            "__pos", "__line"
        ),
    ).withColumn("__h", F.xxhash64("__line"))
    winners = lines.groupBy("__h").agg(
        F.min(
            F.struct(F.col(id_col).alias("i"), F.col("__pos").alias("p"))
        ).alias("__w")
    )
    kept = (
        lines.join(winners, "__h")
        .filter(
            (F.col(id_col) == F.col("__w.i"))
            & (F.col("__pos") == F.col("__w.p"))
        )
        .drop("__w", "__h")
    )
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            delim,
        ).alias(text_col),
    )
