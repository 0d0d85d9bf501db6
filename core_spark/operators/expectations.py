# Copyright 2025 Project Team
#
# Licensed under the Apache License, Version 2.0 (the "License");
# you may not use this file except in compliance with the License.
# You may obtain a copy of the License at
#
#      http://www.apache.org/licenses/LICENSE-2.0
#
# Unless required by applicable law or agreed to in writing, software
# distributed under the License is distributed on an "AS IS" BASIS,
# WITHOUT WARRANTIES OR CONDITIONS OF ANY KIND, either express or implied.
# See the License for the specific language governing permissions and
# limitations under the License.

"""Native data-quality expectations engine (Great Expectations semantics,
zero external dependency).

The reference wraps the great_expectations package behind a thin
suite-management class (data_quality/monitoring/spark/
great_expectations_data_quality.py:32-236: build_expectations /
add_expectations / remove_expectations / display_expectations / check).
This module re-implements that capability Spark-first instead of shelling
out to the GE runtime:

- the same suite surface (``ExpectationSuite`` + ``build_expectation`` +
  add/remove/show), with GE's (expectation_type, kwargs, meta) config
  triple and GE's ``mostly`` threshold semantics;
- validation compiles EVERY row-level and table-aggregate expectation in
  the suite into ONE ``agg()`` over one scan — N expectations cost one
  Spark job, not N (GE's Spark backend issues one job per expectation);
  only uniqueness expectations need a second, grouped pass, and all
  uniqueness expectations over the same column set share one groupBy;
- results come back in GE's checkpoint shape (``success`` / ``results``
  [{expectation_config, success, result{element_count, unexpected_count,
  unexpected_percent}}] / ``statistics``), plus a DataFrame form
  (``validate_df``) so the check composes into pipelines and is
  oracle-checkable row-for-row against plain SQL.

Scale posture: one scan + map-side partial aggregation for the whole
suite; unexpected counts are conditional sums (no shuffle of data rows,
only the 1-row agg). Uniqueness = groupBy(cols).count() filtered to >1 —
ids-only shuffle on the expectation's key columns.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# expectation types whose unexpected-condition is row-level (compiled into
# one shared agg pass)
_ROW_LEVEL = {
    "expect_column_values_to_not_be_null",
    "expect_column_values_to_be_null",
    "expect_column_values_to_be_between",
    "expect_column_values_to_be_in_set",
    "expect_column_values_to_not_be_in_set",
    "expect_column_values_to_match_regex",
    "expect_column_values_to_not_match_regex",
    "expect_column_value_lengths_to_be_between",
    "expect_column_value_lengths_to_equal",
    "expect_column_pair_values_a_to_be_greater_than_b",
    "expect_column_pair_values_to_be_equal",
    "expect_multicolumn_sum_to_equal",
    "expect_column_values_to_match_strftime_format",
    "expect_column_values_to_be_dateutil_parseable",
    "expect_column_values_to_match_like_pattern",
    "expect_column_values_to_not_match_like_pattern",
    "expect_column_pair_values_to_be_in_set",
    "expect_column_values_to_be_json_parseable",
}
# z-scores: the mean/stddev ride the SHARED agg pass; the per-row check
# then needs those scalars, so ALL z-score expectations share ONE extra
# conditional-sum pass (2 scans total however many there are)
_ZSCORE = {"expect_column_value_z_scores_to_be_less_than"}
# table/column aggregates: one scalar in the same shared agg pass
_AGGREGATE = {
    "expect_table_row_count_to_be_between",
    "expect_column_mean_to_be_between",
    "expect_column_min_to_be_between",
    "expect_column_max_to_be_between",
    "expect_column_sum_to_be_between",
    "expect_column_stdev_to_be_between",
    # exact linear-interpolation median (percentile_cont 0.5), same pass
    "expect_column_median_to_be_between",
}
# distinct/non-null ratio: two scalars in the same shared agg pass
_PROPORTION = {"expect_column_proportion_of_unique_values_to_be_between"}
# distinct-set checks: bounded scalars in the same shared agg pass —
# countDistinct for the count form, an outside-the-set conditional sum for
# the subset form, and a collect_set RESTRICTED to the required values
# (≤|required| elements, bounded metadata) for the superset form
_DISTINCT = {
    "expect_column_unique_value_count_to_be_between",
    "expect_column_distinct_values_to_be_in_set",
    "expect_column_distinct_values_to_contain_set",
    "expect_column_distinct_values_to_equal_set",
}
# mode(s): one grouped ids-only job per column (like uniqueness)
_MODE = {"expect_column_most_common_value_to_be_in_set"}
#: driver-side cap on collected tied-mode samples (observed_value) — a
#: near-unique column ties EVERY value at count 1; past the cap the success
#: verdict comes from bounded executor-side probes, never a full collect
_MODE_TIE_CAP = 20
#: categorical drift tests collect the full observed distribution (that IS
#: the statistic); a column whose approximate cardinality exceeds this cap
#: is rejected up front with a clear error instead of OOMing the driver —
#: raise it deliberately via validate(..., drift_cardinality_max=...)
_DRIFT_CARDINALITY_MAX = 10_000
# categorical drift tests vs an expected partition_object: one grouped
# ids-only job per column (shared with _MODE when both reference it)
_DRIFT = {
    "expect_column_kl_divergence_to_be_less_than",
    "expect_column_chisquare_test_p_value_to_be_greater_than",
}
# continuous drift: binned KS test vs a bins/weights partition_object —
# bucket counts from ONE conditional-sum set in the shared agg pass
_KS = {"expect_column_ks_test_p_value_to_be_greater_than"}
# order-dependent checks: one range-partitioned sorted pass per expectation
_MONOTONIC = {
    "expect_column_values_to_be_increasing",
    "expect_column_values_to_be_decreasing",
}
# schema checks: resolved from df.schema, no job at all
_SCHEMA = {
    "expect_column_to_exist",
    "expect_column_values_to_be_of_type",
    "expect_column_values_to_be_in_type_list",
    "expect_table_column_count_to_equal",
    "expect_table_columns_to_match_ordered_list",
    "expect_table_columns_to_match_set",
}
_UNIQUE = {
    "expect_column_values_to_be_unique",
    "expect_compound_columns_to_be_unique",
}
# quantiles: an array-valued scalar in the same shared agg pass (exact
# linear-interpolation percentile, not a sketch — matches SQL
# percentile_cont / DuckDB quantile_cont bit-for-bit)
_QUANTILE = {"expect_column_quantile_values_to_be_between"}

SUPPORTED_EXPECTATIONS = sorted(
    _ROW_LEVEL
    | _AGGREGATE
    | _SCHEMA
    | _UNIQUE
    | _QUANTILE
    | _PROPORTION
    | _DISTINCT
    | _MODE
    | _DRIFT
    | _KS
    | _MONOTONIC
    | _ZSCORE
)


@dataclass
class ExpectationConfiguration:
    """GE's config triple (expectation_type, kwargs, meta)."""

    expectation_type: str
    kwargs: dict[str, Any]
    meta: dict[str, Any] | None = None

    def domain(self) -> tuple:
        """GE 'domain' identity: type + column(s) — used by remove()."""
        k = self.kwargs
        col = k.get("column") or k.get("column_list") or (
            (k.get("column_A"), k.get("column_B"))
            if "column_A" in k
            else None
        )
        return (self.expectation_type, str(col))


@dataclass
class ExpectationSuite:
    """In-memory expectation suite with the reference's management verbs
    (great_expectations_data_quality.py:183-212)."""

    name: str
    expectations: list[ExpectationConfiguration] = field(default_factory=list)

    def add_expectation(self, cfg: ExpectationConfiguration) -> None:
        if cfg.expectation_type not in set(SUPPORTED_EXPECTATIONS):
            raise ValueError(
                f"unsupported expectation_type: {cfg.expectation_type}"
            )
        self.expectations.append(cfg)

    def remove_expectation(
        self, cfg: ExpectationConfiguration, remove_multiple_matches: bool = True
    ) -> None:
        # default True mirrors the REFERENCE wrapper's signature
        # (great_expectations_data_quality.py:195-203), which itself
        # flips GE core's False default — parity is with the reference
        dom = cfg.domain()
        hits = [e for e in self.expectations if e.domain() == dom]
        if not hits:
            raise ValueError(f"no expectation matching domain {dom}")
        if len(hits) > 1 and not remove_multiple_matches:
            raise ValueError(f"multiple expectations match domain {dom}")
        self.expectations = [e for e in self.expectations if e.domain() != dom]

    def show_expectations_by_expectation_type(self) -> list[dict]:
        return sorted(
            (
                {
                    "expectation_type": e.expectation_type,
                    "kwargs": e.kwargs,
                    **({"meta": e.meta} if e.meta else {}),
                }
                for e in self.expectations
            ),
            key=lambda d: d["expectation_type"],
        )


def build_expectation(
    expectation_type: str, kwargs: dict, meta: dict | None = None
) -> ExpectationConfiguration:
    """Reference parity: GreatExpectationsDataQuality.build_expectations."""
    return ExpectationConfiguration(expectation_type, kwargs, meta)


def _all_null(cols: list[Column]) -> Column:
    cond = cols[0].isNull()
    for c in cols[1:]:
        cond = cond & c.isNull()
    return cond


def _between(col: Column, k: dict) -> Column:
    """GE between semantics: missing bound = unbounded; strict_min/max flip
    the comparison to strict inequality."""
    cond = F.lit(True)
    if k.get("min_value") is not None:
        op = Column.__gt__ if k.get("strict_min") else Column.__ge__
        cond = cond & op(col, F.lit(k["min_value"]))
    if k.get("max_value") is not None:
        op = Column.__lt__ if k.get("strict_max") else Column.__le__
        cond = cond & op(col, F.lit(k["max_value"]))
    return cond


#: strftime directive -> Spark (java.time) datetime pattern fragment.
#: Covers the directives GE's strftime expectation sees in practice;
#: anything else is rejected up front with a clear error rather than
#: silently mis-parsed.
_STRFTIME_MAP = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%I": "hh",
    "%M": "mm",
    "%S": "ss",
    "%f": "SSSSSS",
    "%j": "DDD",
    "%p": "a",
    "%z": "xx",
    "%%": "%",
}


def _strftime_to_spark(fmt: str, offset: str = "xx") -> str:
    """Translate a C-strftime format to the java.time pattern Spark's
    to_timestamp/try_to_timestamp understand, with ``%z`` as ``offset``.
    Literal runs are quoted so letters in them are never misread as
    pattern characters."""
    out: list[str] = []
    lit: list[str] = []

    def flush():
        if lit:
            out.append("'" + "".join(lit).replace("'", "''") + "'")
            lit.clear()

    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%":
            d = fmt[i : i + 2]
            if d not in _STRFTIME_MAP:
                raise ValueError(f"unsupported strftime directive: {d!r}")
            if d == "%%":
                lit.append("%")
            else:
                flush()
                out.append(offset if d == "%z" else _STRFTIME_MAP[d])
            i += 2
        else:
            lit.append(ch)
            i += 1
    flush()
    return "".join(out)


#: try_to_timestamp ladder for the dateutil-parseable expectation.
#: DOCUMENTED DIVERGENCE from GE: the reference delegates to
#: dateutil.parser.parse, whose fuzzy heuristics cannot run JVM-side;
#: this engine accepts the fixed, documented set below (ISO-8601 via the
#: formatless probe, plus the common slash/US/verbose date shapes) so the
#: check stays one compiled narrow plan with zero Python in the hot path.
_DATEUTIL_LADDER = [
    None,  # Spark's default parser: ISO dates/timestamps incl. 'T' + zone
    "yyyy/MM/dd HH:mm:ss",
    "yyyy/MM/dd",
    "MM/dd/yyyy HH:mm:ss",
    "MM/dd/yyyy",
    "dd MMM yyyy",
    "MMM dd yyyy",
]


def _row_condition(cfg: ExpectationConfiguration) -> Column | None:
    """GE ``row_condition`` scoping (the reference wrapper passes any GE
    kwargs straight through, great_expectations_data_quality.py:215):
    returns the compiled boolean Column, or None when unconditioned.

    ``condition_parser="spark"`` takes a Spark SQL boolean expression
    verbatim; the GE parsers ("great_expectations" /
    "great_expectations__experimental__") use GE's documented
    ``col("name") <op> literal`` grammar, which differs from Spark SQL
    only in the col() wrapper — translated here and handed to the same
    compiler. The condition is evaluated as a per-expectation filter
    INSIDE the shared agg pass (element_count, missing_count and
    unexpected_count are all scoped to it), never as an extra job."""
    rc = cfg.kwargs.get("row_condition")
    if rc is None:
        return None
    parser = cfg.kwargs.get("condition_parser", "great_expectations")
    if parser in ("great_expectations", "great_expectations__experimental__"):
        import re

        rc = re.sub(r'col\(\s*(["\'])(.*?)\1\s*\)', r"`\2`", rc)
    elif parser != "spark":
        raise ValueError(f"unsupported condition_parser: {parser!r}")
    # NULL condition = row outside the domain, same as False
    return F.coalesce(F.expr(rc), F.lit(False))


def _row_skip(cfg: ExpectationConfiguration) -> Column:
    """GE's 'missing' condition: rows the expectation does not apply to.
    Value expectations skip NULLs (GE counts them as ``missing_count`` and
    excludes them from the success denominator); the two null checks
    themselves apply to every row; pair expectations skip when either side
    is NULL (mirroring _row_ok's applicability)."""
    t, k = cfg.expectation_type, cfg.kwargs
    if t in (
        "expect_column_values_to_not_be_null",
        "expect_column_values_to_be_null",
    ):
        return F.lit(False)
    if t == "expect_column_pair_values_a_to_be_greater_than_b":
        return F.col(k["column_A"]).isNull() | F.col(k["column_B"]).isNull()
    if t in (
        "expect_column_pair_values_to_be_equal",
        "expect_column_pair_values_to_be_in_set",
    ):
        # GE default ignore_row_if = both_values_are_missing
        return F.col(k["column_A"]).isNull() & F.col(k["column_B"]).isNull()
    if t == "expect_multicolumn_sum_to_equal":
        # GE default ignore_row_if = all_values_are_missing
        return _all_null([F.col(c) for c in k["column_list"]])
    return F.col(k["column"]).isNull()


def _row_ok(cfg: ExpectationConfiguration) -> Column:
    """The row-level 'meets expectation' condition. GE convention: NULLs
    are not counted as unexpected for value expectations (they have their
    own null expectations) — encoded here as NULL -> ok except for the two
    null checks themselves."""
    t, k = cfg.expectation_type, cfg.kwargs
    c = F.col(k["column"]) if "column" in k else None
    if t == "expect_column_values_to_not_be_null":
        return c.isNotNull()
    if t == "expect_column_values_to_be_null":
        return c.isNull()
    if t == "expect_column_values_to_be_between":
        return c.isNull() | _between(c, k)
    if t == "expect_column_values_to_be_in_set":
        return c.isNull() | c.isin(list(k["value_set"]))
    if t == "expect_column_values_to_not_be_in_set":
        return c.isNull() | ~c.isin(list(k["value_set"]))
    if t == "expect_column_values_to_match_regex":
        return c.isNull() | c.rlike(k["regex"])
    if t == "expect_column_values_to_not_match_regex":
        return c.isNull() | ~c.rlike(k["regex"])
    if t == "expect_column_value_lengths_to_be_between":
        return c.isNull() | _between(F.length(c), k)
    if t == "expect_column_value_lengths_to_equal":
        return c.isNull() | (F.length(c) == F.lit(int(k["value"])))
    if t == "expect_column_values_to_match_strftime_format":
        # %z reads ±HHMM (xx) and also ±HH:MM or Z (XXX), as strptime does
        fmt = k["strftime_format"]
        pats = dict.fromkeys(_strftime_to_spark(fmt, z) for z in ("xx", "XXX"))
        probes = [F.try_to_timestamp(c, F.lit(p)) for p in pats]
        return c.isNull() | F.coalesce(*probes).isNotNull()
    if t == "expect_column_values_to_be_dateutil_parseable":
        probes = [
            F.try_to_timestamp(c)
            if fmt is None
            else F.try_to_timestamp(c, F.lit(fmt))
            for fmt in _DATEUTIL_LADDER
        ]
        return c.isNull() | F.coalesce(*probes).isNotNull()
    if t == "expect_column_values_to_match_like_pattern":
        return c.isNull() | c.like(k["like_pattern"])
    if t == "expect_column_values_to_not_match_like_pattern":
        return c.isNull() | ~c.like(k["like_pattern"])
    if t == "expect_column_values_to_be_json_parseable":
        return c.isNull() | F.try_parse_json(c).isNotNull()
    if t == "expect_column_pair_values_to_be_in_set":
        a, b = F.col(k["column_A"]), F.col(k["column_B"])
        pairs = list(k["value_pairs_set"])
        if not pairs:
            raise ValueError("value_pairs_set must be non-empty")
        hit = F.lit(False)
        for pa, pb in pairs:
            hit = hit | (a.eqNullSafe(F.lit(pa)) & b.eqNullSafe(F.lit(pb)))
        # both-NULL rows are skipped; any other row must match a pair
        return (a.isNull() & b.isNull()) | hit
    if t == "expect_column_pair_values_a_to_be_greater_than_b":
        a, b = F.col(k["column_A"]), F.col(k["column_B"])
        cmp = (a >= b) if k.get("or_equal") else (a > b)
        return a.isNull() | b.isNull() | cmp
    if t == "expect_column_pair_values_to_be_equal":
        # eqNullSafe: both-NULL compares equal (those rows are skipped
        # anyway); NULL-vs-value compares unequal -> unexpected
        return F.col(k["column_A"]).eqNullSafe(F.col(k["column_B"]))
    if t == "expect_multicolumn_sum_to_equal":
        s = F.col(k["column_list"][0])
        for cn in k["column_list"][1:]:
            s = s + F.col(cn)
        # all-NULL rows are skipped; partial-NULL rows have an undefined
        # sum and count as unexpected
        return _all_null([F.col(cn) for cn in k["column_list"]]) | (
            s.isNotNull() & (s == F.lit(k["sum_total"]))
        )
    raise ValueError(t)


def _agg_expr(cfg: ExpectationConfiguration) -> Column:
    t, k = cfg.expectation_type, cfg.kwargs
    cond = _row_condition(cfg)
    if t == "expect_table_row_count_to_be_between":
        return (
            F.count(F.lit(1))
            if cond is None
            else F.sum(F.when(cond, 1).otherwise(0))
        )
    c = F.col(k["column"])
    if cond is not None:
        # conditioned aggregate: NULL-out rows outside the domain; every
        # aggregate below ignores NULLs, so this scopes it in-pass
        c = F.when(cond, c)
    return {
        "expect_column_mean_to_be_between": F.avg(c),
        "expect_column_min_to_be_between": F.min(c),
        "expect_column_max_to_be_between": F.max(c),
        "expect_column_sum_to_be_between": F.sum(c),
        "expect_column_stdev_to_be_between": F.stddev(c),
        # exact interpolated median, matching SQL percentile_cont /
        # DuckDB quantile_cont(0.5) bit-for-bit
        "expect_column_median_to_be_between": F.percentile(c, F.lit(0.5)),
    }[t]


def _gammainc_q(a: float, x: float) -> float:
    """Regularized upper incomplete gamma Q(a, x) — series for x < a+1,
    Lentz continued fraction otherwise (the standard numerical recipe; no
    scipy on this image). Accurate to ~1e-13 over the chi-square range."""
    import math

    if x < 0 or a <= 0:
        raise ValueError("gammainc_q domain")
    if x == 0:
        return 1.0
    if x < a + 1.0:
        ap, s = a, 1.0 / a
        d = s
        for _ in range(500):
            ap += 1.0
            d *= x / ap
            s += d
            if abs(d) < abs(s) * 1e-15:
                break
        return 1.0 - s * math.exp(-x + a * math.log(x) - math.lgamma(a))
    tiny = 1e-300
    b = x + 1.0 - a
    c = 1.0 / tiny
    d = 1.0 / b
    h = d
    for i in range(1, 500):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-15:
            break
    return h * math.exp(-x + a * math.log(x) - math.lgamma(a))


def _chi2_sf(x: float, k: int) -> float:
    """Chi-square survival function P(X >= x) with k degrees of freedom."""
    return _gammainc_q(k / 2.0, x / 2.0)


#: asymptotic Kolmogorov critical value: _ks_sf(K) = 0.05 exactly (bisected
#: against the series below; the SQL oracle replays success through it)
KS_CRITICAL_05 = 1.3580986393225505


def _ks_sf(lam: float) -> float:
    """Asymptotic Kolmogorov distribution survival function
    Q_KS(lambda) = 2 * sum_{k>=1} (-1)^{k-1} exp(-2 k^2 lambda^2)."""
    import math

    if lam <= 0:
        return 1.0
    s = 0.0
    for k in range(1, 200):
        t = (-1.0) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
        s += t
        if abs(t) < 1e-18:
            break
    return max(0.0, min(1.0, 2.0 * s))


def _normalized_partition(k: dict) -> dict:
    """partition_object {values, weights} -> {value: probability}."""
    po = k["partition_object"]
    vals, ws = list(po["values"]), [float(w) for w in po["weights"]]
    if len(vals) != len(ws) or not vals:
        raise ValueError("partition_object values/weights mismatch")
    if len(vals) < 2:
        # a 1-value partition gives chi-square dof = 0 (the incomplete-
        # gamma would raise an opaque domain error mid-validate) and a
        # degenerate KL expected distribution — reject it up front
        raise ValueError(
            "categorical partition_object needs at least 2 values "
            f"(got {len(vals)}): a single-category expected distribution "
            "has zero chi-square degrees of freedom"
        )
    tot = sum(ws)
    if tot <= 0:
        raise ValueError("partition_object weights must sum > 0")
    return {v: w / tot for v, w in zip(vals, ws)}


def _drift_result(cfg: ExpectationConfiguration, counts: dict) -> tuple:
    """(success, result_dict) for one drift expectation given the observed
    non-null category counts of its column. Categorical form of GE's
    kl_divergence / chisquare expectations: the expected distribution is
    the config's partition_object; observed support outside it is an
    automatic failure (KL = inf, chi-square p = 0)."""
    import math

    t, k = cfg.expectation_type, cfg.kwargs
    q = _normalized_partition(k)
    n = sum(counts.values())
    outside = sorted(v for v in counts if v not in q)
    if t == "expect_column_kl_divergence_to_be_less_than":
        thr = float(k["threshold"])
        if n == 0:
            return True, {"observed_value": 0.0}
        if outside:
            return False, {
                "observed_value": math.inf,
                "details": {"values_outside_partition": outside[:20]},
            }
        d = sum(
            (c / n) * math.log((c / n) / q[v]) for v, c in counts.items() if c
        )
        return d < thr, {"observed_value": d}
    # chi-square goodness of fit: stat over the EXPECTED support (zero
    # observed counts contribute q_i*n), df = |support| - 1
    p_thr = float(k.get("p", 0.05))
    dof = len(q) - 1
    if n == 0:
        return True, {"observed_value": 1.0, "test_statistic": 0.0}
    if outside:
        return False, {
            "observed_value": 0.0,
            "test_statistic": math.inf,
            "details": {"values_outside_partition": outside[:20]},
        }
    stat = sum(
        (counts.get(v, 0) - qi * n) ** 2 / (qi * n) for v, qi in q.items()
    )
    p_value = _chi2_sf(stat, dof)
    return p_value > p_thr, {
        "observed_value": p_value,
        "test_statistic": stat,
        "degrees_of_freedom": dof,
    }


def _monotonic_summaries(df: DataFrame, column: str, order_by: str) -> DataFrame:
    """Adjacent-pair violation summaries for increasing/decreasing checks.

    GE evaluates monotonicity in the dataframe's own row order; a
    distributed DataFrame has none, so this engine REQUIRES an
    ``order_by`` kwarg naming the ordering column (documented divergence —
    a total order is the only well-defined semantics at scale).

    Scale shape: NULL values are dropped (they are `missing`, counted in
    the shared agg pass), the (order, value) projection is
    repartitionByRange'd on the order column and sorted WITHIN partitions,
    and one mapInPandas pass emits a per-partition summary carrying ALL
    FOUR adjacent-violation counts (increasing/decreasing x strict/
    non-strict) plus (first, last) — so ONE sorted pass serves every
    monotonic expectation sharing (column, order_by), whatever its
    direction. Range partition ids are ascending in key order, so the
    driver only compares the <=P partition-boundary pairs — bounded
    metadata, no global single-partition window anywhere."""
    if not order_by:
        raise ValueError(
            "monotonic expectations require an 'order_by' kwarg: Spark "
            "DataFrames have no intrinsic row order"
        )
    vt = df.schema[column].dataType.simpleString()
    # the value column is the SECONDARY sort key: rows with duplicate
    # order_by keys are evaluated in ascending value order, making the
    # violation count deterministic on tied keys (the tie convention —
    # non-strict checks never count a tie-group's internal order as a
    # violation; strict checks deterministically count its equal-value
    # adjacencies). Without it, Spark's arbitrary within-tie order makes
    # counts vary run to run.
    sub = (
        df.select(F.col(order_by).alias("__o"), F.col(column).alias("__v"))
        .filter(F.col("__v").isNotNull())
        .repartitionByRange(F.col("__o"), F.col("__v"))
        .sortWithinPartitions("__o", "__v")
        .withColumn("__pid", F.spark_partition_id())
    )

    def summarize(batches):
        pid, first, last = None, None, None
        vi = vis = vd = vds = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["__pid"].iloc[0])
            v = pdf["__v"].to_numpy()
            if last is not None:  # pair across arrow-batch boundary
                vi += int(v[0] < last)
                vis += int(v[0] <= last)
                vd += int(v[0] > last)
                vds += int(v[0] >= last)
            if first is None:
                first = v[0]
            prev, cur = v[:-1], v[1:]
            vi += int((cur < prev).sum())
            vis += int((cur <= prev).sum())
            vd += int((cur > prev).sum())
            vds += int((cur >= prev).sum())
            last = v[-1]
        if pid is not None:
            yield pd.DataFrame(
                {
                    "pid": [pid],
                    "first": [first],
                    "last": [last],
                    "viol_inc": [vi],
                    "viol_inc_strict": [vis],
                    "viol_dec": [vd],
                    "viol_dec_strict": [vds],
                }
            )

    return sub.mapInPandas(
        summarize,
        schema=(
            f"pid int, first {vt}, last {vt}, viol_inc long,"
            " viol_inc_strict long, viol_dec long, viol_dec_strict long"
        ),
    )


def _monotonic_count_from(summaries, decreasing: bool, strictly: bool) -> int:
    """Total violation count for one direction from collected summaries
    (sorted by pid) plus the <=P boundary pairs."""
    key = ("viol_dec" if decreasing else "viol_inc") + (
        "_strict" if strictly else ""
    )
    viol = sum(r[key] for r in summaries)
    for a, b in zip(summaries, summaries[1:]):
        prev, cur = a["last"], b["first"]
        if decreasing:
            bad = cur >= prev if strictly else cur > prev
        else:
            bad = cur <= prev if strictly else cur < prev
        if bad:
            viol += 1
    return int(viol)


def _scalar_ok(value, k: dict) -> bool:
    if value is None:
        return False
    if k.get("min_value") is not None:
        if k.get("strict_min"):
            if not value > k["min_value"]:
                return False
        elif not value >= k["min_value"]:
            return False
    if k.get("max_value") is not None:
        if k.get("strict_max"):
            if not value < k["max_value"]:
                return False
        elif not value <= k["max_value"]:
            return False
    return True


def validate(
    df: DataFrame,
    suite: ExpectationSuite,
    drift_cardinality_max: int = _DRIFT_CARDINALITY_MAX,
) -> dict:
    """Validate *df* against every expectation in *suite*; GE checkpoint
    result shape. One shared agg job for all row-level + aggregate
    expectations; one grouped job per distinct uniqueness column-set;
    schema expectations cost nothing.

    ``drift_cardinality_max`` bounds the categorical drift tests: their
    statistic needs the full observed category distribution on the
    driver, so a column whose approximate distinct count (probed in the
    SAME shared agg pass, zero extra jobs) exceeds the cap raises a clear
    error instead of collecting unboundedly."""
    row_cfgs = [e for e in suite.expectations if e.expectation_type in _ROW_LEVEL]
    agg_cfgs = [e for e in suite.expectations if e.expectation_type in _AGGREGATE]
    uniq_cfgs = [e for e in suite.expectations if e.expectation_type in _UNIQUE]
    schema_cfgs = [e for e in suite.expectations if e.expectation_type in _SCHEMA]
    quant_cfgs = [e for e in suite.expectations if e.expectation_type in _QUANTILE]
    prop_cfgs = [e for e in suite.expectations if e.expectation_type in _PROPORTION]
    dist_cfgs = [e for e in suite.expectations if e.expectation_type in _DISTINCT]
    mode_cfgs = [e for e in suite.expectations if e.expectation_type in _MODE]
    drift_cfgs = [e for e in suite.expectations if e.expectation_type in _DRIFT]
    ks_cfgs = [e for e in suite.expectations if e.expectation_type in _KS]
    mono_cfgs = [e for e in suite.expectations if e.expectation_type in _MONOTONIC]
    z_cfgs = [e for e in suite.expectations if e.expectation_type in _ZSCORE]

    # row_condition scoping is defined for the row-level and aggregate
    # families; anywhere else it would silently mean "unscoped", so reject
    for cfg in suite.expectations:
        if (
            cfg.kwargs.get("row_condition") is not None
            and cfg.expectation_type not in _ROW_LEVEL
            and cfg.expectation_type not in _AGGREGATE
        ):
            raise ValueError(
                "row_condition is supported for row-level and aggregate "
                f"expectations only, not {cfg.expectation_type}"
            )

    # ---- one scan: total count + per-expectation unexpected counts + scalars
    exprs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for i, cfg in enumerate(row_cfgs):
        cond = _row_condition(cfg)
        bad, skip = ~_row_ok(cfg), _row_skip(cfg)
        if cond is not None:
            # scoped domain: the condition filters INSIDE the same shared
            # pass — element_count, missing and unexpected all restrict to
            # the conditioned rows (GE's row_condition semantics)
            bad, skip = cond & bad, cond & skip
            exprs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"__e{i}"))
        exprs.append(F.sum(F.when(bad, 1).otherwise(0)).alias(f"__u{i}"))
        # per-expectation missing count, same shared pass: GE's success and
        # unexpected_percent denominators are (element_count - missing)
        exprs.append(F.sum(F.when(skip, 1).otherwise(0)).alias(f"__m{i}"))
    # uniqueness missing counts ride the same shared pass (the grouped job
    # below already excludes NULL keys; GE reports them as missing)
    uniq_sets: list[tuple] = []
    for cfg in uniq_cfgs:
        cols = (
            (cfg.kwargs["column"],)
            if cfg.expectation_type == "expect_column_values_to_be_unique"
            else tuple(cfg.kwargs["column_list"])
        )
        if cols not in uniq_sets:
            uniq_sets.append(cols)
            skip = (
                F.col(cols[0]).isNull()
                if len(cols) == 1
                else _all_null([F.col(c) for c in cols])
            )
            exprs.append(
                F.sum(F.when(skip, 1).otherwise(0)).alias(
                    f"__un{len(uniq_sets) - 1}"
                )
            )
    for i, cfg in enumerate(agg_cfgs):
        exprs.append(_agg_expr(cfg).alias(f"__a{i}"))
    for i, cfg in enumerate(prop_cfgs):
        c = F.col(cfg.kwargs["column"])
        exprs.append(F.countDistinct(c).alias(f"__pd{i}"))
        exprs.append(F.sum(c.isNotNull().cast("long")).alias(f"__pn{i}"))
    for i, cfg in enumerate(dist_cfgs):
        t, k = cfg.expectation_type, cfg.kwargs
        c = F.col(k["column"])
        if t == "expect_column_unique_value_count_to_be_between":
            exprs.append(F.countDistinct(c).alias(f"__dv{i}"))
            continue
        vs = list(k["value_set"])
        if t in (
            "expect_column_distinct_values_to_be_in_set",
            "expect_column_distinct_values_to_equal_set",
        ):
            exprs.append(
                F.sum(
                    F.when(c.isNotNull() & ~c.isin(vs), 1).otherwise(0)
                ).alias(f"__do{i}")
            )
            # offending-value EXAMPLES are gathered only on the failure
            # path, by a bounded distinct+TakeOrdered follow-up job — a
            # collect_set here would build an unbounded aggregation
            # buffer on a high-cardinality failing column (GE reports the
            # full distinct list; this engine reports 20 examples)
        if t in (
            "expect_column_distinct_values_to_contain_set",
            "expect_column_distinct_values_to_equal_set",
        ):
            # collect_set restricted to the REQUIRED values: <=|required|
            # elements, bounded metadata
            exprs.append(
                F.sort_array(
                    F.collect_set(F.when(c.isin(vs), c))
                ).alias(f"__df{i}")
            )
    for i, cfg in enumerate(mono_cfgs):
        # missing count rides the shared pass; violations need the sorted job
        exprs.append(
            F.sum(F.col(cfg.kwargs["column"]).isNull().cast("long")).alias(
                f"__mm{i}"
            )
        )
    # z-score stats (mean, SAMPLE stddev — GE's convention) ride the
    # shared pass; the per-row threshold check needs those scalars, so
    # all z-score expectations share one extra conditional-sum pass below
    z_cols = list(dict.fromkeys(cfg.kwargs["column"] for cfg in z_cfgs))
    for i, c in enumerate(z_cols):
        exprs.append(F.avg(F.col(c)).alias(f"__zm{i}"))
        exprs.append(F.stddev_samp(F.col(c)).alias(f"__zs{i}"))
        exprs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"__zn{i}")
        )
    # cardinality probe for every drift column rides the shared pass so
    # the guard below costs zero extra jobs
    drift_cols = list(
        dict.fromkeys(cfg.kwargs["column"] for cfg in drift_cfgs)
    )
    for i, c in enumerate(drift_cols):
        exprs.append(F.approx_count_distinct(c).alias(f"__dcard{i}"))
    for i, cfg in enumerate(ks_cfgs):
        # binned KS: the observed ECDF at every bin edge is a conditional
        # cumulative count — |bins|+1 extra sums in the SAME shared pass,
        # no grouped job and no sort anywhere
        c = F.col(cfg.kwargs["column"])
        po = cfg.kwargs["partition_object"]
        if len(po["bins"]) != len(po["weights"]) + 1:
            raise ValueError("KS partition_object needs len(bins) == len(weights)+1")
        for j, edge in enumerate(po["bins"]):
            exprs.append(
                F.sum(
                    F.when(c <= F.lit(float(edge)), 1).otherwise(0)
                ).alias(f"__ks{i}_{j}")
            )
        exprs.append(F.sum(c.isNotNull().cast("long")).alias(f"__ksn{i}"))
    for i, cfg in enumerate(quant_cfgs):
        qs = [float(q) for q in cfg.kwargs["quantile_ranges"]["quantiles"]]
        exprs.append(
            F.percentile(F.col(cfg.kwargs["column"]), F.array(*[F.lit(q) for q in qs]))
            .alias(f"__q{i}")
        )
    row = (
        df.agg(*exprs).collect()[0]
        if (
            row_cfgs
            or agg_cfgs
            or uniq_cfgs
            or quant_cfgs
            or prop_cfgs
            or dist_cfgs
            or ks_cfgs
            or mono_cfgs
            or drift_cfgs
            or z_cfgs
        )
        else None
    )
    # schema-only (or empty) suites run ZERO jobs: n is only used by
    # row-level/uniqueness emits, which imply row is not None
    n = int(row["__n"]) if row is not None else 0

    results: list[dict] = []

    def emit(cfg, success, result):
        results.append(
            {
                "expectation_config": {
                    "expectation_type": cfg.expectation_type,
                    "kwargs": cfg.kwargs,
                    **({"meta": cfg.meta} if cfg.meta else {}),
                },
                "success": bool(success),
                "result": result,
            }
        )

    def emit_rowlevel(cfg, unexpected, missing=0, element_count=None):
        # GE convention: element_count is ALL rows (of the row_condition-
        # scoped domain when one is set), missing (NULL-skipped) rows are
        # reported separately, and success / unexpected_percent are
        # computed over the NON-missing count — a half-NULL column must
        # not dilute the unexpected fraction. Zero applicable rows is
        # vacuously successful (GE's behavior for all-NULL columns).
        ec = n if element_count is None else int(element_count)
        mostly = cfg.kwargs.get("mostly", 1.0)
        nonnull = ec - int(missing)
        pct = (unexpected / nonnull * 100.0) if nonnull else 0.0
        emit(
            cfg,
            (1.0 - (unexpected / nonnull if nonnull else 0.0)) >= mostly,
            {
                "element_count": ec,
                "missing_count": int(missing),
                "missing_percent": round(missing / ec * 100.0, 6) if ec else 0.0,
                "unexpected_count": int(unexpected),
                "unexpected_percent": round(pct, 6),
            },
        )

    row_idx = {id(cfg): i for i, cfg in enumerate(row_cfgs)}
    agg_idx = {id(cfg): i for i, cfg in enumerate(agg_cfgs)}
    quant_idx = {id(cfg): i for i, cfg in enumerate(quant_cfgs)}
    prop_idx = {id(cfg): i for i, cfg in enumerate(prop_cfgs)}
    dist_idx = {id(cfg): i for i, cfg in enumerate(dist_cfgs)}
    ks_idx = {id(cfg): i for i, cfg in enumerate(ks_cfgs)}
    mono_idx = {id(cfg): i for i, cfg in enumerate(mono_cfgs)}

    # mode(s): one grouped ids-only job per column; the grouped frame is
    # persisted so the max-count / tie-count / tie-sample jobs scan it,
    # not df. Driver memory is BOUNDED at _MODE_TIE_CAP sample values per
    # column (TakeOrdered on the executors): a pathological near-unique
    # column where every value ties at count 1 costs a capped sample plus
    # one bounded in-set probe per ties_okay expectation — never a
    # full-distinct-set collect.
    mode_groups: dict[str, list] = {}
    for cfg in mode_cfgs:
        mode_groups.setdefault(cfg.kwargs["column"], []).append(cfg)
    mode_obs: dict[str, tuple] = {}  # col -> (sorted sample, tie_count)
    mode_anyin: dict[int, bool] = {}  # id(cfg) -> any tied mode in set
    for col, cfgs in mode_groups.items():
        cnt = (
            df.filter(F.col(col).isNotNull())
            .groupBy(col)
            .agg(F.count(F.lit(1)).alias("__c"))
            .persist()
        )
        try:
            mx = cnt.agg(F.max("__c")).collect()[0][0]
            if mx is None:
                mode_obs[col] = ([], 0)
                continue
            tied = cnt.filter(F.col("__c") == mx)
            tie_n = tied.count()
            sample = [
                r[col]
                for r in tied.orderBy(col).limit(_MODE_TIE_CAP).collect()
            ]
            mode_obs[col] = (sample, tie_n)
            if tie_n > _MODE_TIE_CAP:
                # the sample may miss in-set modes; one bounded probe per
                # ties_okay expectation decides "any tied mode in set"
                for cfg in cfgs:
                    if cfg.kwargs.get("ties_okay"):
                        vs = list(cfg.kwargs["value_set"])
                        mode_anyin[id(cfg)] = (
                            tied.filter(F.col(col).isin(vs)).limit(1).count()
                            > 0
                        )
        finally:
            cnt.unpersist()

    # drift tests: one grouped ids-only job per distinct column; the
    # collected distribution is |distinct categories| rows — bounded
    # because the guard above rejected any column whose probed
    # cardinality exceeds drift_cardinality_max (the "these tests are
    # defined over categorical columns" assumption, now ENFORCED)
    for i, col in enumerate(drift_cols):
        card = int(row[f"__dcard{i}"] or 0)
        if card > drift_cardinality_max:
            raise ValueError(
                f"drift expectation on column {col!r}: approximate "
                f"cardinality {card} exceeds drift_cardinality_max="
                f"{drift_cardinality_max}; categorical drift tests need "
                "the full observed distribution on the driver — pick a "
                "categorical column or raise the cap explicitly"
            )
    # z-score pass 2: ONE agg shared by every z-score expectation,
    # thresholds applied against the pass-1 mean/stddev literals
    z_unexpected: dict[int, int] = {}
    if z_cfgs:
        z_stats = {
            c: (row[f"__zm{i}"], row[f"__zs{i}"]) for i, c in enumerate(z_cols)
        }
        z_exprs = []
        for j, cfg in enumerate(z_cfgs):
            c = F.col(cfg.kwargs["column"])
            mu, sd = z_stats[cfg.kwargs["column"]]
            thr = float(cfg.kwargs["threshold"])
            if mu is None or sd is None or sd == 0.0:
                # zero-variance / empty column: every z-score is 0 (GE's
                # backends divide by NaN and fail rows; a constant column
                # is better read as z=0), nothing can exceed a positive
                # threshold
                bad = F.lit(False)
            else:
                z = (c - F.lit(float(mu))) / F.lit(float(sd))
                bad = (
                    F.abs(z) >= F.lit(thr)
                    if cfg.kwargs.get("double_sided", True)
                    else z >= F.lit(thr)
                )
            z_exprs.append(
                F.sum(F.when(c.isNotNull() & bad, 1).otherwise(0)).alias(
                    f"__zu{j}"
                )
            )
        zrow = df.agg(*z_exprs).collect()[0]
        for j, cfg in enumerate(z_cfgs):
            z_unexpected[id(cfg)] = int(zrow[f"__zu{j}"] or 0)

    cat_counts: dict[str, dict] = {}
    for col in drift_cols:
        cat_counts[col] = {
            r[col]: int(r["__c"])
            for r in df.filter(F.col(col).isNotNull())
            .groupBy(col)
            .agg(F.count(F.lit(1)).alias("__c"))
            .collect()
        }

    # monotonic checks: ONE range-partitioned sorted pass per distinct
    # (column, order_by) — the summaries carry both directions and both
    # strictness forms, so increasing + decreasing over the same ordering
    # share a single job
    mono_viol: dict[int, int] = {}
    mono_groups: dict[tuple, list] = {}
    for cfg in mono_cfgs:
        key = (cfg.kwargs["column"], cfg.kwargs.get("order_by"))
        mono_groups.setdefault(key, []).append(cfg)
    for (col, order_by), cfgs in mono_groups.items():
        summaries = sorted(
            _monotonic_summaries(df, col, order_by).collect(),
            key=lambda r: r["pid"],
        )
        for cfg in cfgs:
            mono_viol[id(cfg)] = _monotonic_count_from(
                summaries,
                cfg.expectation_type
                == "expect_column_values_to_be_decreasing",
                bool(cfg.kwargs.get("strictly")),
            )

    # uniqueness: one grouped job per distinct column set (GE counts EVERY
    # occurrence of a >1-multiplicity key as unexpected)
    by_cols: dict[tuple, int] = {}
    for cfg in uniq_cfgs:
        cols = (
            (cfg.kwargs["column"],)
            if cfg.expectation_type == "expect_column_values_to_be_unique"
            else tuple(cfg.kwargs["column_list"])
        )
        if cols not in by_cols:
            # GE NULL convention for uniqueness too: a NULL key is skipped,
            # not treated as a duplicate of other NULLs (single column:
            # NULL rows skip; compound: GE's default ignore_row_if =
            # all_values_are_missing)
            scoped = (
                df.filter(F.col(cols[0]).isNotNull())
                if len(cols) == 1
                else df.filter(
                    ~_all_null([F.col(c) for c in cols])
                )
            )
            dup = (
                scoped.groupBy(*cols)
                .count()
                .filter(F.col("count") > 1)
                .agg(F.coalesce(F.sum("count"), F.lit(0)).alias("u"))
                .collect()[0]["u"]
            )
            by_cols[cols] = int(dup)

    dtypes = dict(df.dtypes)
    # emit in SUITE order so validate_df rows line up with the suite
    for cfg in suite.expectations:
        t, k = cfg.expectation_type, cfg.kwargs
        if t in _ROW_LEVEL:
            i = row_idx[id(cfg)]
            emit_rowlevel(
                cfg,
                int(row[f"__u{i}"] or 0),
                int(row[f"__m{i}"] or 0),
                element_count=(
                    int(row[f"__e{i}"] or 0)
                    if k.get("row_condition") is not None
                    else None
                ),
            )
        elif t in _AGGREGATE:
            v = row[f"__a{agg_idx[id(cfg)]}"]
            if t == "expect_table_row_count_to_be_between":
                v = int(v or 0)
            emit(cfg, _scalar_ok(v, k), {"observed_value": v})
        elif t in _QUANTILE:
            obs = list(row[f"__q{quant_idx[id(cfg)]}"] or [])
            ranges = k["quantile_ranges"]["value_ranges"]
            ok_all = len(obs) == len(ranges) and all(
                (lo is None or v >= lo) and (hi is None or v <= hi)
                for v, (lo, hi) in zip(obs, ranges)
            )
            emit(cfg, ok_all, {"observed_value": obs})
        elif t in _UNIQUE:
            cols = (
                (k["column"],)
                if t == "expect_column_values_to_be_unique"
                else tuple(k["column_list"])
            )
            emit_rowlevel(
                cfg,
                by_cols[cols],
                int(row[f"__un{uniq_sets.index(cols)}"] or 0),
            )
        elif t in _PROPORTION:
            i = prop_idx[id(cfg)]
            nonnull = int(row[f"__pn{i}"] or 0)
            distinct = int(row[f"__pd{i}"] or 0)
            obs = (distinct / nonnull) if nonnull else None
            emit(cfg, _scalar_ok(obs, k), {"observed_value": obs})
        elif t in _DISTINCT:
            i = dist_idx[id(cfg)]
            if t == "expect_column_unique_value_count_to_be_between":
                v = int(row[f"__dv{i}"] or 0)
                emit(cfg, _scalar_ok(v, k), {"observed_value": v})
            elif t == "expect_column_distinct_values_to_be_in_set":
                out = int(row[f"__do{i}"] or 0)
                obs: list = []
                if out:
                    # failure path only: 20 smallest offending distinct
                    # values via distinct + TakeOrdered — spilling hash
                    # aggregate on the executors, 20 rows on the driver
                    ccol = F.col(k["column"])
                    obs = [
                        r["__v"]
                        for r in df.filter(
                            ccol.isNotNull() & ~ccol.isin(list(k["value_set"]))
                        )
                        .select(ccol.alias("__v"))
                        .distinct()
                        .orderBy("__v")
                        .limit(20)
                        .collect()
                    ]
                emit(
                    cfg,
                    out == 0,
                    {"observed_value": obs, "unexpected_count": out},
                )
            elif t == "expect_column_distinct_values_to_contain_set":
                found = list(row[f"__df{i}"] or [])
                emit(
                    cfg,
                    set(found) >= set(k["value_set"]),
                    {"observed_value": found},
                )
            else:  # expect_column_distinct_values_to_equal_set
                found = list(row[f"__df{i}"] or [])
                out = int(row[f"__do{i}"] or 0)
                emit(
                    cfg,
                    out == 0 and set(found) == set(k["value_set"]),
                    {"observed_value": found, "unexpected_count": out},
                )
        elif t in _MODE:
            modes, tie_n = mode_obs[k["column"]]
            vset = set(k["value_set"])
            # GE semantics: with ties_okay, ANY tied mode in the set
            # succeeds; without it, success requires a SINGLE (untied)
            # mode that is in the set — tied data always fails.
            if k.get("ties_okay"):
                ok = (
                    mode_anyin[id(cfg)]
                    if tie_n > _MODE_TIE_CAP
                    else any(m in vset for m in modes)
                )
            else:
                ok = tie_n == 1 and bool(modes) and modes[0] in vset
            result = {"observed_value": modes}
            if tie_n > _MODE_TIE_CAP:
                result["details"] = {
                    "tie_count": tie_n,
                    "observed_value_truncated": True,
                }
            emit(cfg, ok, result)
        elif t in _DRIFT:
            ok, result = _drift_result(cfg, cat_counts[k["column"]])
            emit(cfg, ok, result)
        elif t in _KS:
            import math

            i = ks_idx[id(cfg)]
            po = k["partition_object"]
            edges = [float(b) for b in po["bins"]]
            ws = [float(w) for w in po["weights"]]
            wtot = sum(ws)
            n_nn = int(row[f"__ksn{i}"] or 0)
            if n_nn == 0:
                emit(cfg, True, {"observed_value": 1.0, "test_statistic": 0.0})
            else:
                cum = 0.0
                d = 0.0
                for j in range(len(edges)):
                    exp_cdf = cum / wtot
                    obs_cdf = int(row[f"__ks{i}_{j}"] or 0) / n_nn
                    d = max(d, abs(obs_cdf - exp_cdf))
                    if j < len(ws):
                        cum += ws[j]
                p_value = _ks_sf(math.sqrt(n_nn) * d)
                emit(
                    cfg,
                    p_value > float(k.get("p", 0.05)),
                    {
                        "observed_value": p_value,
                        "test_statistic": d,
                        "n": n_nn,
                    },
                )
        elif t in _MONOTONIC:
            emit_rowlevel(
                cfg,
                mono_viol[id(cfg)],
                int(row[f"__mm{mono_idx[id(cfg)]}"] or 0),
            )
        elif t in _ZSCORE:
            i = z_cols.index(k["column"])
            emit_rowlevel(
                cfg, z_unexpected[id(cfg)], int(row[f"__zn{i}"] or 0)
            )
        elif t == "expect_column_to_exist":
            emit(cfg, k["column"] in dtypes, {"observed_value": list(dtypes)})
        elif t == "expect_table_column_count_to_equal":
            emit(cfg, len(dtypes) == k["value"], {"observed_value": len(dtypes)})
        elif t == "expect_table_columns_to_match_ordered_list":
            cols_now = list(df.columns)
            emit(
                cfg,
                cols_now == list(k["column_list"]),
                {"observed_value": cols_now},
            )
        elif t == "expect_table_columns_to_match_set":
            cols_set = set(df.columns)
            want = set(k["column_set"])
            # GE: exact_match=True (default) -> sets equal; False -> the
            # expected set need only be a subset of the observed columns
            ok = (
                cols_set == want
                if k.get("exact_match", True)
                else want <= cols_set
            )
            emit(cfg, ok, {"observed_value": sorted(cols_set)})
        elif t == "expect_column_values_to_be_in_type_list":
            obs = dtypes.get(k["column"])
            emit(cfg, obs in list(k["type_list"]), {"observed_value": obs})
        else:  # expect_column_values_to_be_of_type
            obs = dtypes.get(k["column"])
            emit(cfg, obs == k["type_"], {"observed_value": obs})

    ok = sum(1 for r in results if r["success"])
    return {
        "success": ok == len(results),
        "results": results,
        "statistics": {
            "evaluated_expectations": len(results),
            "successful_expectations": ok,
            "unsuccessful_expectations": len(results) - ok,
            "success_percent": round(ok / len(results) * 100.0, 6)
            if results
            else None,
            # the shared pass already counted the rows; callers that need
            # the frame's row count (the streaming gate's metrics) read it
            # here instead of running their own count job. None when the
            # suite was schema-only and no job ran at all.
            "batch_row_count": n if row is not None else None,
        },
    }


_NUMERIC_TYPES = {"int", "bigint", "smallint", "tinyint", "float", "double"}


def profile_suite(
    df: DataFrame,
    name: str = "profiled",
    columns: list[str] | None = None,
    set_cardinality_max: int = 20,
    drift: bool = False,
    drift_p: float = 1e-3,
    kl_threshold: float = 0.1,
) -> ExpectationSuite:
    """Auto-generate an expectation suite from observed data (the data-
    contract bootstrap GE's profiler provides): validate(df, profile_suite
    (df)) passes by construction, and future batches that drift — new NULLs,
    out-of-range values, unseen categories, schema changes — fail it.

    Exactly two bounded jobs regardless of column count: one shared agg for
    (null count, min, max, approx distinct) of every profiled column, then
    one collect_set agg restricted to the string columns whose approx
    cardinality cleared ``set_cardinality_max`` (value sets are therefore
    bounded metadata). Emits per column: existence + type pins, a not-null
    expectation when no NULLs were observed, [min, max] bounds for
    numerics, and an in-set expectation for low-cardinality strings;
    plus a table row-count floor of 1.

    ``drift=True`` additionally learns DISTRIBUTION contracts, the piece a
    training-data feed needs beyond ranges and sets:
    - numerics get a binned KS expectation whose bins are the observed
      deciles (exact percentiles riding the same shared agg; emitted only
      when the 11 edges are strictly increasing — heavy ties make binned
      KS ill-posed) with uniform expected weights and ``drift_p``;
    - low-cardinality strings get a KL-divergence expectation whose
      expected partition is the observed category mix (ONE extra grouped
      ids-only job covering ALL categorical columns via a stacked
      (column, value) union) with ``kl_threshold``.
    Self-validation passes by construction and is ENFORCED for the KS
    contracts: the decile/cardinality guards cannot exclude an atom of
    mass <10% straddling a decile edge (the observed CDF at that edge is
    then off by the atom's mass), so with ``drift=True`` the learned KS
    contracts are replayed against the profiled frame itself (one extra
    shared-agg pass) and any that fail are dropped before the suite is
    returned. KL contracts are exact by construction (observed mix ==
    expected mix, d = 0) and need no replay. A shifted numeric
    distribution or a skewed category mix in a later batch fails the
    contract. Wire the result into QualityGateSink for a streaming
    drift halt.
    """
    dtypes = dict(df.dtypes)
    cols = [c for c in (columns or df.columns) if c in dtypes]
    exprs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    deciles = [j / 10.0 for j in range(11)]
    for i, c in enumerate(cols):
        exprs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__null{i}"))
        exprs.append(F.approx_count_distinct(c).alias(f"__card{i}"))
        if dtypes[c] in _NUMERIC_TYPES:
            exprs.append(F.min(c).alias(f"__min{i}"))
            exprs.append(F.max(c).alias(f"__max{i}"))
            if drift:
                exprs.append(
                    F.percentile(
                        F.col(c), F.array(*[F.lit(q) for q in deciles])
                    ).alias(f"__dec{i}")
                )
    row = df.agg(*exprs).collect()[0]

    set_cols = [
        (i, c)
        for i, c in enumerate(cols)
        if dtypes[c] == "string"
        # approx_count_distinct err ~2%: pad the probe so a true-cardinality
        # set near the cap is not missed, then enforce the cap exactly
        and (row[f"__card{i}"] or 0) <= set_cardinality_max * 1.1 + 5
    ]
    sets: dict[str, list] = {}
    if set_cols:
        srow = df.agg(
            *[F.collect_set(c).alias(f"__s{i}") for i, c in set_cols]
        ).collect()[0]
        for i, c in set_cols:
            vals = sorted(srow[f"__s{i}"])
            if len(vals) <= set_cardinality_max:
                sets[c] = vals

    # drift contracts for categoricals: ONE grouped ids-only job covers
    # every set column via a stacked (column, value) union — the collected
    # result is sum-of-cardinalities rows, bounded metadata
    cat_mix: dict[str, dict] = {}
    if drift and sets:
        stacked = None
        for c in sets:
            part = df.select(
                F.lit(c).alias("__col"), F.col(c).alias("__val")
            ).filter(F.col("__val").isNotNull())
            stacked = part if stacked is None else stacked.unionByName(part)
        for r in (
            stacked.groupBy("__col", "__val")
            .agg(F.count(F.lit(1)).alias("__c"))
            .collect()
        ):
            cat_mix.setdefault(r["__col"], {})[r["__val"]] = int(r["__c"])

    suite = ExpectationSuite(name)
    suite.add_expectation(
        build_expectation("expect_table_row_count_to_be_between", {"min_value": 1})
    )
    suite.add_expectation(
        build_expectation("expect_table_column_count_to_equal", {"value": len(dtypes)})
    )
    for i, c in enumerate(cols):
        suite.add_expectation(
            build_expectation("expect_column_to_exist", {"column": c})
        )
        suite.add_expectation(
            build_expectation(
                "expect_column_values_to_be_of_type", {"column": c, "type_": dtypes[c]}
            )
        )
        if int(row[f"__null{i}"] or 0) == 0:
            suite.add_expectation(
                build_expectation(
                    "expect_column_values_to_not_be_null", {"column": c}
                )
            )
        if dtypes[c] in _NUMERIC_TYPES and row[f"__min{i}"] is not None:
            suite.add_expectation(
                build_expectation(
                    "expect_column_values_to_be_between",
                    {
                        "column": c,
                        "min_value": row[f"__min{i}"],
                        "max_value": row[f"__max{i}"],
                    },
                )
            )
        if c in sets:
            suite.add_expectation(
                build_expectation(
                    "expect_column_values_to_be_in_set",
                    {"column": c, "value_set": sets[c]},
                )
            )
        if drift and dtypes[c] in _NUMERIC_TYPES:
            # binned KS is only well-posed for quasi-continuous columns:
            # require strictly increasing decile edges AND a cardinality
            # probe >= 50 (a large atom between edges would make the
            # self-validating ECDF deviate by its own mass)
            edges = list(row[f"__dec{i}"] or [])
            if (
                (row[f"__card{i}"] or 0) >= 50
                and len(edges) == 11
                and all(b > a for a, b in zip(edges, edges[1:]))
            ):
                suite.add_expectation(
                    build_expectation(
                        "expect_column_ks_test_p_value_to_be_greater_than",
                        {
                            "column": c,
                            "partition_object": {
                                "bins": [float(e) for e in edges],
                                "weights": [0.1] * 10,
                            },
                            "p": drift_p,
                        },
                    )
                )
        if drift and c in cat_mix and cat_mix[c]:
            mix = cat_mix[c]
            tot = sum(mix.values())
            vals = sorted(mix)
            suite.add_expectation(
                build_expectation(
                    "expect_column_kl_divergence_to_be_less_than",
                    {
                        "column": c,
                        "partition_object": {
                            "values": vals,
                            "weights": [mix[v] / tot for v in vals],
                        },
                        "threshold": kl_threshold,
                    },
                )
            )
    # make "self-validation passes by construction" LITERAL for the KS
    # contracts: the decile/cardinality guards above do not exclude an
    # atom of mass <10% straddling a decile edge (the observed CDF at
    # that edge is then off by the atom's mass and sqrt(n)*D can clear
    # the critical value on the profiled batch itself), so replay the
    # learned KS contracts against the profiled frame — one extra shared
    # agg pass — and drop any that fail before emitting the suite
    if drift:
        ks_exps = [
            e for e in suite.expectations if e.expectation_type in _KS
        ]
        if ks_exps:
            probe = ExpectationSuite("__ks_self_check")
            probe.expectations = list(ks_exps)
            res = validate(df, probe)
            failed = {
                id(e)
                for e, r in zip(ks_exps, res["results"])
                if not r["success"]
            }
            suite.expectations = [
                e for e in suite.expectations if id(e) not in failed
            ]
    return suite


def quarantine_split(
    df: DataFrame, suite: ExpectationSuite
) -> tuple[DataFrame, DataFrame]:
    """Row-level gate built from the suite's compiled conditions: returns
    (good, bad) where *bad* is every row violating ANY row-level
    expectation, tagged with a ``failed_expectations`` array naming the
    violated checks. Aggregate / schema / uniqueness expectations don't
    define a per-row verdict and are ignored here (run ``validate`` for
    those).

    This is the training-data quality-gate form: wire ``good`` to the main
    sink and ``bad`` to a quarantine sink inside foreachBatch and the whole
    check stays one narrow JVM-side projection — no UDF, no extra scan, no
    shuffle; works identically on batch and streaming frames.
    """
    tagged = tag_rows(df, suite)
    if tagged is None:
        return df, df.limit(0).withColumn(
            "failed_expectations", F.array().cast("array<string>")
        )
    good = tagged.filter(F.size("failed_expectations") == 0).drop(
        "failed_expectations"
    )
    bad = tagged.filter(F.size("failed_expectations") > 0)
    return good, bad


def tag_rows(df: DataFrame, suite: ExpectationSuite) -> DataFrame | None:
    """The tagging projection under ``quarantine_split``, exposed so a
    caller (the streaming quality gate) can persist/localCheckpoint ONE
    tagged frame and derive the good split, the bad split and every count
    from that single evaluation. Returns None when the suite has no
    row-level expectations (nothing to tag)."""
    row_cfgs = [e for e in suite.expectations if e.expectation_type in _ROW_LEVEL]
    if not row_cfgs:
        return None

    def _tag(cfg):
        bad = ~_row_ok(cfg)
        cond = _row_condition(cfg)
        if cond is not None:
            # a row outside the expectation's row_condition domain is not
            # violated by it — same scoping as validate()'s shared pass
            bad = cond & bad
        return F.when(
            bad, F.lit(f"{cfg.expectation_type}:{cfg.kwargs.get('column', '')}")
        )

    tags = [_tag(cfg) for cfg in row_cfgs]
    return df.withColumn(
        "failed_expectations",
        F.filter(F.array(*tags), lambda x: x.isNotNull()),
    )


def validate_df(df: DataFrame, suite: ExpectationSuite) -> DataFrame:
    """DataFrame form of ``validate`` (one row per expectation, in suite
    order) so the check composes into pipelines and oracles can replay it
    as plain SQL. Columns: idx, expectation_type, column, success,
    element_count, missing_count (GE's NULL-skipped rows — the success
    denominator is element_count - missing_count), unexpected_count,
    observed_value (double-cast scalar for aggregate expectations, NULL
    otherwise)."""
    res = validate(df, suite)
    rows = []
    for i, (cfg, r) in enumerate(zip(suite.expectations, res["results"])):
        k = cfg.kwargs
        col = k.get("column") or ",".join(k.get("column_list", [])) or (
            f"{k['column_A']},{k['column_B']}" if "column_A" in k else None
        )
        obs = r["result"].get("observed_value")
        rows.append(
            (
                i,
                cfg.expectation_type,
                col,
                r["success"],
                r["result"].get("element_count"),
                r["result"].get("missing_count"),
                r["result"].get("unexpected_count"),
                float(obs) if isinstance(obs, (int, float)) else None,
            )
        )
    return df.sparkSession.createDataFrame(
        rows,
        "idx int, expectation_type string, column string, success boolean,"
        " element_count long, missing_count long, unexpected_count long,"
        " observed_value double",
    )
