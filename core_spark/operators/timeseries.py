"""Time-series query verbs, Spark-first.

Re-implements the query semantics of the reference's TimeSeriesQueryBuilder
(reference: src/sdk/python/rtdip_sdk/queries/time_series/_time_series_query_builder.py,
cited below as TSQB:<line>) as composable DataFrame transforms instead of SQL
text generation. Semantics preserved; physical strategy left to Catalyst.

Scale notes (100 TB posture):
- Every verb starts from ``scan`` which pushes the time-range + tag predicates
  into the source (parquet/Iceberg partition + row-group pruning: the filters
  are plain ``col BETWEEN`` / ``col IN`` so they land in PushedFilters).
- Bucketing uses ``F.window`` (epoch-aligned, identical math batch and
  streaming) — never a theta/range join. The reference needs a Databricks
  RANGE_JOIN hint for its bucket assignment (TSQB:820,1452); expressing the
  bucket as a column makes it a plain hash aggregate here.
- Time grids (interpolation) are generated with ``sequence``+``explode`` per
  tag — grid size = |tags| x |buckets|, independent of event count, and joins
  against aggregated (already reduced) data, so the expensive side is the
  events scan, which aggregates map-side before shuffling.
- All window functions are partitioned by tag — no global ORDER BY windows
  (the reference's unpartitioned ``LEAD() OVER (ORDER BY ts)`` at TSQB:1451
  is a single-partition bottleneck and is deliberately not reproduced).

Output column names are lowercase snake_case so results hash identically
across Spark and ANSI-SQL oracles (DuckDB lowercases unquoted identifiers).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


@dataclass(frozen=True)
class TSSpec:
    """Column binding for a tall/narrow event table.

    Mirrors the reference's rebindable source columns
    (time_series_query_builder.py:82-125): ``status_col=None`` synthesizes
    'Good' (TSQB:119-122).
    """

    tag_col: str = "TagName"
    ts_col: str = "EventTime"
    value_col: str = "Value"
    status_col: str | None = "Status"


# Canonical internal/output names.
TAG, TS, VAL, ST = "tagname", "event_time", "value", "status"


def scan(
    df: DataFrame,
    spec: TSSpec,
    start: str | None = None,
    end: str | None = None,
    tags: Sequence[str] | None = None,
    include_bad: bool = True,
    widen_seconds: int = 0,
) -> DataFrame:
    """Normalized raw scan: project + predicate, all pushdown-friendly.

    Reference semantics: ms-truncate event time (TSQB:99), ``BETWEEN``
    time-range predicate (TSQB:138-149), tag IN-list (TSQB:151-166),
    ``Status <> 'Bad'`` gate (TSQB:168-169), scan widening for verbs that
    need boundary events (TSQB:1440-1442).
    """
    # Range/tag predicates are applied to the RAW source columns before any
    # projection, so they reach the parquet scan as PushedFilters (row-group
    # + partition pruning at 100 TB). Filtering on the ms-truncated column
    # is equivalent — bounds are second-aligned, and for second-aligned b:
    # date_trunc(ms, ts) >= b  <=>  ts >= b  (same for the upper bound) —
    # but would block pushdown (TSQB:138-149 pushes the same BETWEEN).
    src = df
    if start is not None:
        lo = F.to_timestamp(F.lit(start)) - F.expr(f"INTERVAL {widen_seconds} SECOND")
        src = src.filter(F.col(spec.ts_col) >= lo)
    if end is not None:
        hi = F.to_timestamp(F.lit(end)) + F.expr(f"INTERVAL {widen_seconds} SECOND")
        src = src.filter(F.col(spec.ts_col) < hi)
    if tags is not None:
        src = src.filter(F.col(spec.tag_col).isin(list(tags)))
    if not include_bad and spec.status_col is not None:
        src = src.filter(F.col(spec.status_col) != "Bad")
    ts = F.date_trunc("millisecond", F.col(spec.ts_col))
    status = (
        F.col(spec.status_col).cast("string")
        if spec.status_col is not None
        else F.lit("Good")
    )
    return src.select(
        F.col(spec.tag_col).cast("string").alias(TAG),
        ts.alias(TS),
        F.col(spec.value_col).cast("double").alias(VAL),
        status.alias(ST),
    )


def raw(
    df: DataFrame,
    spec: TSSpec,
    start: str | None = None,
    end: str | None = None,
    tags: Sequence[str] | None = None,
    include_bad: bool = True,
    distinct: bool = True,
) -> DataFrame:
    """Raw events verb (TSQB:493-588). DISTINCT dedup as in TSQB:92-93."""
    out = scan(df, spec, start, end, tags, include_bad)
    if distinct:
        out = out.dropDuplicates()
    return out


def _bucket(every_seconds: int, offset_seconds: int = 0) -> Column:
    """Tumbling bucket start for one event — epoch-aligned like F.window.

    The reference aligns buckets to ``start_date % interval`` via a window
    start-offset (TSQB:43-63,111); ``offset_seconds`` carries that here.
    Expressed as arithmetic (not the window() struct) so exactly the same
    expression works in batch, streaming group keys, and the SQL oracle.
    """
    e = F.unix_timestamp(F.col(TS)) - F.lit(offset_seconds)
    return F.timestamp_seconds(
        (F.floor(e / F.lit(every_seconds)) * every_seconds) + offset_seconds
    )


_AGGS = {
    "avg": lambda: F.avg(VAL),
    "min": lambda: F.min(VAL),
    "max": lambda: F.max(VAL),
    "sum": lambda: F.sum(VAL),
    "count": lambda: F.count(VAL),
    # struct key => value tie-break when two events share a timestamp, so
    # first/last are deterministic across engines (oracle uses row_number
    # with the same (ts, value) ordering).
    "first": lambda: F.min_by(VAL, F.struct(F.col(TS), F.col(VAL))),
    "last": lambda: F.max_by(VAL, F.struct(F.col(TS), F.col(VAL))),
}


def resample(
    df: DataFrame,
    spec: TSSpec,
    every_seconds: int,
    agg_method: str = "avg",
    start: str | None = None,
    end: str | None = None,
    tags: Sequence[str] | None = None,
    include_bad: bool = False,
    offset_seconds: int = 0,
    round_digits: int | None = 6,
    exact_decimals: int | None = None,
) -> DataFrame:
    """Time-bucket aggregate (TSQB:183-239).

    first/last use ``min_by``/``max_by`` on event time (deterministic),
    not Spark's ordering-dependent first()/last(). One shuffle on
    (tag, bucket); partial aggregation happens map-side for avg/min/max/
    sum/count. Empty buckets absent (see ``resample_filled``).

    ``exact_decimals``: when the input values are fixed-point decimals
    (e.g. 2-decimal sensor readings), avg/sum are computed over exact
    scaled-integer sums so the result double is bit-identical regardless
    of partitioning/summation order — float sums of decimal data land
    exactly on rounding half-boundaries often enough that order-dependent
    ulps otherwise flip rounded digits between runs/engines.
    """
    if agg_method not in _AGGS:
        raise ValueError(f"agg_method must be one of {sorted(_AGGS)}")
    base = scan(df, spec, start, end, tags, include_bad)
    if agg_method == "avg":
        base = base.dropDuplicates()  # TSQB:539-548 dedups before avg
    if exact_decimals is not None and agg_method in ("avg", "sum"):
        scale = float(10**exact_decimals)
        units = F.round(F.col(VAL) * scale).cast("long")
        if agg_method == "avg":
            v = (F.sum(units).cast("double") / scale) / F.count(VAL)
        else:
            v = F.sum(units).cast("double") / scale
    else:
        v = _AGGS[agg_method]()
    if round_digits is not None and agg_method != "count":
        v = F.round(v, round_digits)
    return (
        base.withColumn("__b", _bucket(every_seconds, offset_seconds))
        .groupBy(TAG, F.col("__b").alias(TS))
        .agg(v.cast("double").alias(VAL))
    )


def _densify(
    out: DataFrame,
    df: DataFrame,
    spec: TSSpec,
    start: str | None,
    end: str | None,
    every_seconds: int,
    tags: Sequence[str] | None,
    offset_seconds: int = 0,
) -> DataFrame:
    """Left-join ``out`` onto the tags x buckets grid (TSQB ``date_array``).

    The grid is ``sequence``+``explode`` per distinct tag (TSQB:213,262,783),
    end-exclusive to match bucket semantics. No grid without both bounds.
    """
    if start is None or end is None:
        return out
    tag_src = df.select(F.col(spec.tag_col).alias(TAG))
    if tags is not None:
        tag_src = tag_src.filter(F.col(TAG).isin(list(tags)))
    seq = F.sequence(
        F.to_timestamp(F.lit(start)) + F.expr(f"INTERVAL {offset_seconds} SECOND"),
        F.to_timestamp(F.lit(end)),
        F.expr(f"INTERVAL {every_seconds} SECOND"),
    )
    grid = (
        tag_src.distinct()
        .select(F.col(TAG), F.explode(seq).alias(TS))
        .filter(F.col(TS) < F.to_timestamp(F.lit(end)))
    )
    return grid.join(out, [TAG, TS], "left_outer").select(TAG, TS, VAL)


def resample_filled(
    df: DataFrame,
    spec: TSSpec,
    every_seconds: int,
    start: str,
    end: str,
    agg_method: str = "avg",
    tags: Sequence[str] | None = None,
    include_bad: bool = False,
    offset_seconds: int = 0,
    round_digits: int | None = 6,
    exact_decimals: int | None = None,
) -> DataFrame:
    """Resample with empty buckets materialized as NULL rows (TSQB:207-229).

    Grid LEFT-join pattern: aggregate first (reduces the big side to
    |tags| x |buckets|), then left-join the generated grid of the same
    cardinality. Both sides are post-reduction, so the join is left to
    Catalyst/AQE (broadcasting the preserved side of a left-outer join is
    not a valid build side; AQE picks broadcast when the agg side is small).
    """
    agg = resample(
        df, spec, every_seconds, agg_method, start, end, tags, include_bad,
        offset_seconds, round_digits, exact_decimals,
    )
    return _densify(agg, df, spec, start, end, every_seconds, tags, offset_seconds)


def _neighbours(
    obs: Column, order: Sequence[str], inclusive: bool = True
) -> tuple[Column, Column]:
    """Nearest non-null ``obs`` before and after each row of a tag.

    Both sides are running frames — ``last(obs) IGNORE NULLS`` from the
    partition start to the current row (``inclusive``) or the row before it
    — so each is one linear pass over a tag's rows. "After" runs over the
    exact mirror of ``order``: every key reversed, Spark's default null
    placement kept (ASC NULLS FIRST mirrors DESC NULLS LAST), so rows tied on
    a leading key resolve the same way in both directions. (The
    ``first(obs) OVER (ROWS CURRENT ROW AND UNBOUNDED FOLLOWING)`` spelling
    re-aggregates the rest of the partition for every row: quadratic.)
    """
    frame = (Window.unboundedPreceding, 0 if inclusive else -1)
    asc = Window.partitionBy(TAG).orderBy(*[F.col(c).asc() for c in order])
    desc = Window.partitionBy(TAG).orderBy(*[F.col(c).desc() for c in order])
    return (
        F.last(obs, ignorenulls=True).over(asc.rowsBetween(*frame)),
        F.last(obs, ignorenulls=True).over(desc.rowsBetween(*frame)),
    )


def _lerp(before: Column, after: Column) -> Column:
    """Linear fill at the row's timestamp between two ``(t, v)`` neighbours
    (TSQB:282); only-before (or both at one instant) => forward fill;
    nothing before => NULL."""
    t = F.unix_timestamp(TS).cast("double")
    pt = F.unix_timestamp(before["t"]).cast("double")
    nt = F.unix_timestamp(after["t"]).cast("double")
    return (
        F.when(before.isNotNull() & after.isNotNull() & (nt != pt),
               before["v"] + (after["v"] - before["v"]) * (t - pt) / (nt - pt))
        .when(before.isNotNull(), before["v"])
    )


def interpolate(
    df: DataFrame,
    spec: TSSpec,
    every_seconds: int,
    start: str,
    end: str,
    method: str = "linear",
    tags: Sequence[str] | None = None,
    include_bad: bool = False,
    offset_seconds: int = 0,
    round_digits: int | None = 6,
    agg_round_digits: int | None = 6,
    exact_decimals: int | None = None,
) -> DataFrame:
    """Resample then fill empty buckets (TSQB:269-301,908-1042).

    method: 'linear' — prev + (next-prev)*(t-prev_t)/(next_t-prev_t)
    (TSQB:282); exact bucket value wins; only-prev => forward fill; no
    prev => NULL. 'ffill' / 'bfill' — the nearest observed bucket before /
    after (TSQB:1453-1454 pattern; both running frames, see ``_neighbours``).

    Window functions are partitioned per tag; state per partition is the
    bucket series (bounded by the query range), not raw events.
    """
    filled = resample_filled(
        df, spec, every_seconds, start, end, "avg", tags, include_bad,
        offset_seconds, agg_round_digits, exact_decimals,
    )
    v = F.col(VAL)
    before, after = _neighbours(
        F.when(v.isNotNull(), F.struct(F.col(TS).alias("t"), v.alias("v"))), (TS,)
    )
    if method == "ffill":
        out = filled.withColumn(VAL, before["v"])
    elif method == "bfill":
        out = filled.withColumn(VAL, after["v"])
    elif method == "linear":
        out = filled.withColumn(VAL, F.coalesce(v, _lerp(before, after)))
    else:
        raise ValueError("method must be linear|ffill|bfill")
    if round_digits is not None:
        out = out.withColumn(VAL, F.round(VAL, round_digits))
    return out


def interpolate_at_time(
    df: DataFrame,
    spec: TSSpec,
    timestamps: Sequence[str],
    window_length_seconds: int = 86400,
    tags: Sequence[str] | None = None,
    include_bad: bool = False,
    round_digits: int = 6,
) -> DataFrame:
    """Linear interpolation at explicit timestamps (TSQB:1191-1316).

    The reference full-outer-joins a timestamp grid with raw events
    (TSQB:1229) then lag/leads across the union; here we UNION the
    requested rows in (marked), window per tag, and keep requested rows —
    same semantics, one less join. Scan is widened ±window_length
    (TSQB:1206-1208) so boundary observations are visible.
    """
    lo = min(timestamps)
    hi = max(timestamps)
    events = scan(df, spec, lo, hi, tags, include_bad, widen_seconds=window_length_seconds)
    tag_src = events.select(TAG).distinct()
    req = tag_src.select(
        TAG,
        F.explode(
            F.array(*[F.to_timestamp(F.lit(t)) for t in timestamps])
        ).alias(TS),
    ).withColumn("__req", F.lit(True))
    both = events.select(TAG, TS, VAL).withColumn("__req", F.lit(False)).unionByName(
        req.withColumn(VAL, F.lit(None).cast("double"))
    )
    obs = F.when(~F.col("__req"), F.struct(F.col(TS).alias("t"), F.col(VAL).alias("v")))
    # exact-time observation: a real event at exactly the requested ts
    exact = F.max(F.when(~F.col("__req"), F.col(VAL))).over(
        Window.partitionBy(TAG, TS)
    )
    # events sort before a request at the same ts (__req ASC), VAL breaks
    # event ties, so both neighbour scans see one total order
    fill = _lerp(*_neighbours(obs, (TS, "__req", VAL), inclusive=False))
    # NB: the value must be materialized BEFORE filtering to requested rows —
    # the window functions need the event rows in their frames.
    return (
        both.withColumn("__out", F.round(F.coalesce(exact, fill), round_digits))
        .filter(F.col("__req"))
        .select(TAG, TS, F.col("__out").alias(VAL))
    )


def summary(
    df: DataFrame,
    spec: TSSpec,
    start: str | None = None,
    end: str | None = None,
    tags: Sequence[str] | None = None,
    include_bad: bool = False,
    exact_decimals: int | None = None,
    decimal_out: bool = True,
) -> DataFrame:
    """Per-tag descriptive stats, decimal(10,2)-cast like TSQB:304-382.

    avg/sum honour ``exact_decimals`` (see ``resample``): scaled-integer
    sums make them order-independent. All stats are rounded *before* the
    decimal cast so half-boundary ties resolve identically everywhere.
    ``decimal_out=False`` keeps rounded doubles (decimal handling differs
    across client libraries; values are identical either way).
    """
    d = "decimal(10,2)" if decimal_out else "double"
    if exact_decimals is not None:
        scale = float(10**exact_decimals)
        units = F.round(F.col(VAL) * scale).cast("long")
        avg_c = (F.sum(units).cast("double") / scale) / F.count(VAL)
        sum_c = F.sum(units).cast("double") / scale
    else:
        avg_c = F.avg(VAL)
        sum_c = F.sum(VAL)
    return (
        scan(df, spec, start, end, tags, include_bad)
        .groupBy(TAG)
        .agg(
            F.count(VAL).alias("cnt"),
            F.round(avg_c, 2).cast(d).alias("avg"),
            F.round(F.min(VAL), 2).cast(d).alias("min"),
            F.round(F.max(VAL), 2).cast(d).alias("max"),
            F.round(F.stddev(VAL), 2).cast(d).alias("st_dev"),
            F.round(sum_c, 2).cast(d).alias("sum"),
            F.round(F.variance(VAL), 2).cast(d).alias("var"),
        )
    )


def percentiles(
    df: DataFrame,
    spec: TSSpec,
    ps: Sequence[float] = (0.5, 0.9, 0.95, 0.99),
    start: str | None = None,
    end: str | None = None,
    tags: Sequence[str] | None = None,
    include_bad: bool = False,
) -> DataFrame:
    """Per-tag EXACT percentiles (linear interpolation, numpy/type-7 rule):
    ``pos = (n-1)*p; k = floor(pos); v_k + (v_{k+1} - v_k) * (pos - k)``.

    Extends the reference's summary verb (TSQB:304-382) with the quantile
    family it lacks. Built from first principles rather than Spark's
    ``percentile`` aggregate so the arithmetic is an explicit expression —
    the SQL oracle evaluates the IDENTICAL formula and matches bit-for-bit
    (aggregate implementations are free to associate the interpolation
    differently by a ULP).

    NULL values are skipped as by any SQL aggregate (the rule of the
    streaming ``percentile_windows``): ``cnt`` counts the non-NULL values,
    NULLs rank last so only the non-NULL ones are picked, and an all-NULL
    tag gives ``cnt`` 0 and NULL percentiles.

    Scale: one shuffle on the tag key + per-tag sort (the same cost as any
    exact quantile); rank/count via a tag-partitioned window, then a
    conditional hash-agg picks the two bracketing rows per p. No global
    windows, no driver collect; for sketch-accuracy at extreme cardinality
    ``F.percentile_approx`` remains the cheap path.
    """
    base = scan(df, spec, start, end, tags, include_bad)
    w = Window.partitionBy(TAG).orderBy(F.col(VAL).asc_nulls_last())
    wn = Window.partitionBy(TAG)
    r = base.select(
        TAG,
        F.col(VAL).cast("double").alias("v"),
        (F.row_number().over(w) - F.lit(1)).alias("rn"),
        F.count(VAL).over(wn).alias("n"),
    )
    labels = [str(int(round(p * 100))) for p in ps]
    aggs = [F.max("n").alias("n")]
    for p, lab in zip(ps, labels):
        pos = (F.col("n") - F.lit(1)).cast("double") * F.lit(float(p))
        k = F.floor(pos)
        k_hi = F.least(k + F.lit(1), F.col("n") - F.lit(1))
        aggs += [
            F.max(F.when(F.col("rn") == k, F.col("v"))).alias(f"lo_{lab}"),
            F.max(F.when(F.col("rn") == k_hi, F.col("v"))).alias(f"hi_{lab}"),
        ]
    g = r.groupBy(TAG).agg(*aggs)
    out = [F.col(TAG), F.col("n").alias("cnt")]
    for p, lab in zip(ps, labels):
        pos = (F.col("n") - F.lit(1)).cast("double") * F.lit(float(p))
        frac = pos - F.floor(pos).cast("double")
        out.append(
            (
                F.col(f"lo_{lab}")
                + (F.col(f"hi_{lab}") - F.col(f"lo_{lab}")) * frac
            ).alias(f"p{lab}")
        )
    return g.select(*out)


def topk_by_bucket(
    df: DataFrame,
    spec: TSSpec,
    every_sec: int,
    k: int = 3,
    start: str | None = None,
    end: str | None = None,
    tags: Sequence[str] | None = None,
    include_bad: bool = False,
) -> DataFrame:
    """Top-k rows by value per (tag, time-bucket) — the windowed
    generalization of the reference's k=1 argmax patterns (latest
    pcdm_latest_to_delta.py:150-169, mode TSQB-adjacent; SURVEY §2.6 notes
    only k=1 exists there). Deterministic tiebreak: value DESC, event time
    ASC, so equal values rank identically in any engine.

    Scale: epoch-aligned arithmetic bucket column + one tag/bucket-
    partitioned window sort — no global ORDER BY, no range join; rank
    filter prunes to k rows per group before anything else touches them.
    """
    base = scan(df, spec, start, end, tags, include_bad)
    bucket = F.from_unixtime(
        (F.unix_timestamp(TS) / every_sec).cast("long") * every_sec
    ).cast("timestamp")
    w = Window.partitionBy(TAG, "bucket").orderBy(
        F.col(VAL).desc(), F.col(TS).asc()
    )
    return (
        base.withColumn("bucket", bucket)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(TAG, "bucket", "rank", TS, VAL)
    )


def latest(
    df: DataFrame,
    spec: TSSpec,
    tags: Sequence[str] | None = None,
) -> DataFrame:
    """Newest row per tag — argmax by event time.

    Reference maintains a latest table via max(struct(EventTime,Status))
    OVER (PARTITION BY TagName) (pcdm_latest_to_delta.py:150-169) and
    queries it (TSQB:1363-1421). ``max_by`` is the single-pass hash-agg
    equivalent: no window sort, map-side partial argmax.
    """
    base = scan(df, spec, tags=tags)
    key = F.struct(F.col(TS), F.col(VAL))  # value tiebreak => deterministic
    return base.groupBy(TAG).agg(
        F.max(TS).alias(TS),
        F.max_by(VAL, key).alias(VAL),
        F.max_by(ST, key).alias(ST),
    )


def plot_ohlc(
    df: DataFrame,
    spec: TSSpec,
    every_seconds: int,
    start: str,
    end: str,
    tags: Sequence[str] | None = None,
    offset_seconds: int = 0,
) -> DataFrame:
    """OHLC downsample per (tag, bucket) (TSQB:800-855).

    The reference computes min/max/first/last via window functions over
    struct(Value, EventTime) then GROUP-BY-dedups; ``min_by``/``max_by``
    collapse that to one hash aggregate. 'exception' = first Bad-status
    value in the bucket (TSQB plot Exception column).
    """
    base = scan(df, spec, start, end, tags, include_bad=True)
    bad_ts = F.when(F.col(ST) == "Bad", F.col(TS))
    return (
        base.withColumn("__b", _bucket(every_seconds, offset_seconds))
        .groupBy(TAG, F.col("__b").alias(TS))
        .agg(
            F.min(VAL).alias("min_value"),
            F.max(VAL).alias("max_value"),
            F.min_by(VAL, TS).alias("first_value"),
            F.max_by(VAL, TS).alias("last_value"),
            F.min_by(F.when(F.col(ST) == "Bad", F.col(VAL)), bad_ts).alias(
                "exception_value"
            ),
        )
    )


def plot_unpivot(ohlc: DataFrame) -> DataFrame:
    """Tall form of plot_ohlc via stack() (TSQB:837-855 UNPIVOT)."""
    return ohlc.select(
        TAG,
        TS,
        F.expr(
            "stack(5, 'min', min_value, 'max', max_value, 'first', first_value,"
            " 'last', last_value, 'exception', exception_value)"
        ).alias("aggregation", VAL),
    ).filter(F.col(VAL).isNotNull())


def time_weighted_average(
    df: DataFrame,
    spec: TSSpec,
    every_seconds: int,
    start: str,
    end: str,
    step: bool = False,
    tags: Sequence[str] | None = None,
    widen_seconds: int = 86400,
    round_digits: int = 6,
) -> DataFrame:
    """Time-weighted average per (tag, bucket) (TSQB:1424-1567).

    Semantics (TSQB:1475-1480): insert bucket-edge grid points, fill their
    values (step: forward-fill; linear: linear interpolation), then per
    consecutive-row segment twa = v*dt (step) or (v+v_next)/2*dt (linear);
    Bad-status segments are excluded from numerator and denominator
    ('good minutes', TSQB:1453-1480). Scan widened ±widen_seconds
    (TSQB:1440-1442) so boundary segments see their neighbors.

    Physical shape: one per-tag window pass (fills) + one hash aggregate.
    The reference's bucket assignment needs a Databricks RANGE_JOIN; here
    the bucket is an arithmetic column.
    """
    events = scan(df, spec, start, end, tags, include_bad=True,
                  widen_seconds=widen_seconds)
    tag_src = events.select(TAG).distinct()
    # Edge grid includes both ends so the last bucket is closed.
    n_edges = F.sequence(
        F.to_timestamp(F.lit(start)),
        F.to_timestamp(F.lit(end)),
        F.expr(f"INTERVAL {every_seconds} SECOND"),
    )
    edges = tag_src.select(TAG, F.explode(n_edges).alias(TS)).withColumn(
        VAL, F.lit(None).cast("double")
    ).withColumn(ST, F.lit(None).cast("string")).withColumn("__edge", F.lit(True))
    both = (
        events.select(TAG, TS, VAL, ST)
        .withColumn("__edge", F.lit(False))
        .unionByName(edges)
        # an edge coinciding with an event is redundant — keep the event
        .withColumn(
            "__dup",
            F.count(F.lit(1)).over(Window.partitionBy(TAG, TS)) > 1,
        )
        .filter(~(F.col("__edge") & F.col("__dup")))
    )
    w = Window.partitionBy(TAG).orderBy(TS)
    w_prev = w.rowsBetween(Window.unboundedPreceding, 0)
    obs = F.when(~F.col("__edge"), F.struct(F.col(TS).alias("t"), F.col(VAL).alias("v")))
    before, after = _neighbours(obs, (TS,))
    fill_v = before["v"] if step else _lerp(before, after)
    filled = (
        both.withColumn("__v", F.when(~F.col("__edge"), F.col(VAL)).otherwise(fill_v))
        .withColumn("__st", F.last(F.col(ST), ignorenulls=True).over(w_prev))
    )
    t = F.unix_timestamp(TS).cast("double")
    nxt_t = F.lead(TS).over(w)
    nxt_v = F.lead("__v").over(w)
    seg_dt = (F.unix_timestamp(nxt_t).cast("double") - t)
    seg_val = F.col("__v") * seg_dt if step else (F.col("__v") + nxt_v) / 2.0 * seg_dt
    good = (F.col("__st").isNull()) | (F.col("__st") != "Bad")
    segs = (
        filled.withColumn("__dt", seg_dt)
        .withColumn("__tw", seg_val)
        .filter(F.col("__dt").isNotNull() & (F.col("__dt") > 0))
        .filter(
            (F.col(TS) >= F.to_timestamp(F.lit(start)))
            & (F.col(TS) < F.to_timestamp(F.lit(end)))
        )
        # a segment counts only if quality-good AND its integral is defined
        # (segments before the first observation have no value to weight)
        .withColumn("__good", good & F.col("__tw").isNotNull())
    )
    # Order-insensitive summation: per-segment __tw/__dt are identical
    # doubles in any engine (identical expression trees over identical
    # operands), but a float SUM's value depends on partial-sum order, which
    # varies run to run with task scheduling — and TWA bucket means of
    # 2-decimal inputs land EXACTLY on round-half boundaries of the output
    # digits, where a 1-ulp jitter flips the rounded value. Summing each
    # segment as a scaled integer (tw at 1e-6, dt at 1e-3 — error bounded by
    # n*5e-7/sum_dt, far below round_digits) makes the aggregate exact and
    # the final division chain a deterministic IEEE computation.
    tw_i = F.when(F.col("__good"), F.round(F.col("__tw") * 1e6).cast("long"))
    dt_i = F.when(F.col("__good"), F.round(F.col("__dt") * 1e3).cast("long"))
    return (
        segs.withColumn("__b", _bucket(every_seconds, 0))
        .groupBy(TAG, F.col("__b").alias(TS))
        .agg(
            F.round(
                (F.sum(tw_i).cast("double") / 1e6)
                / (F.sum(dt_i).cast("double") / 1e3),
                round_digits,
            ).alias(VAL)
        )
    )


def _circular_means(
    df: DataFrame,
    spec: TSSpec,
    every_seconds: int,
    lower: float,
    upper: float,
    start: str | None,
    end: str | None,
    tags: Sequence[str] | None,
    include_bad: bool,
) -> DataFrame:
    """Mean cos (``__c``) and sin (``__s``) per (tag, bucket) of the values
    scaled from [lower, upper) to radians (TSQB:1590)."""
    span = upper - lower
    rad = (F.col(VAL) - F.lit(lower)) / F.lit(span) * 2.0 * F.lit(3.141592653589793)
    return (
        scan(df, spec, start, end, tags, include_bad)
        .withColumn("__b", _bucket(every_seconds, 0))
        .groupBy(TAG, F.col("__b").alias(TS))
        .agg(F.avg(F.cos(rad)).alias("__c"), F.avg(F.sin(rad)).alias("__s"))
    )


def circular_average(
    df: DataFrame,
    spec: TSSpec,
    every_seconds: int,
    lower: float,
    upper: float,
    start: str | None = None,
    end: str | None = None,
    tags: Sequence[str] | None = None,
    include_bad: bool = False,
    round_digits: int = 6,
    fill: bool = False,
) -> DataFrame:
    """Wrap-around mean of angular values per (tag, bucket) (TSQB:1570-1669).

    Scale [lower, upper) to radians (TSQB:1590), mean of cos/sin, atan2
    recompose (TSQB:1597), rescale to units in [lower, upper). With
    ``fill=True`` the output is densified onto the full time grid via a
    left join (the reference's ``date_array`` CTE, TSQB:1581-1588), empty
    buckets carrying NULL values.
    """
    agg = _circular_means(df, spec, every_seconds, lower, upper, start, end, tags, include_bad)
    span = upper - lower
    ang = F.atan2(F.col("__s"), F.col("__c"))  # (-pi, pi]
    pi2 = 2.0 * 3.141592653589793
    ang_pos = (ang + F.lit(pi2)) % F.lit(pi2)
    out = agg.select(
        TAG,
        TS,
        F.round(ang_pos / F.lit(pi2) * F.lit(span) + F.lit(lower), round_digits).alias(VAL),
    )
    if fill:
        out = _densify(out, df, spec, start, end, every_seconds, tags)
    return out


def circular_stddev(
    df: DataFrame,
    spec: TSSpec,
    every_seconds: int,
    lower: float,
    upper: float,
    start: str | None = None,
    end: str | None = None,
    tags: Sequence[str] | None = None,
    include_bad: bool = False,
    round_digits: int = 6,
    fill: bool = False,
) -> DataFrame:
    """Circular standard deviation sqrt(-2 ln R) in units (TSQB:1635).

    ``fill=True`` densifies onto the full grid as in :func:`circular_average`.
    """
    agg = _circular_means(df, spec, every_seconds, lower, upper, start, end, tags, include_bad)
    span = upper - lower
    # clamp: fp noise can push single-sample buckets to r slightly > 1,
    # which would make sqrt(-2 ln r) NaN
    r = F.least(
        F.sqrt(F.col("__c") * F.col("__c") + F.col("__s") * F.col("__s")),
        F.lit(1.0),
    )
    pi2 = 2.0 * 3.141592653589793
    sd_rad = F.sqrt(-2.0 * F.log(r))
    out = agg.select(
        TAG,
        TS,
        F.round(sd_rad / F.lit(pi2) * F.lit(span), round_digits).alias(VAL),
    )
    if fill:
        out = _densify(out, df, spec, start, end, every_seconds, tags)
    return out


def pivot_wide(
    df: DataFrame,
    spec: TSSpec,
    every_seconds: int,
    tags: Sequence[str],
    start: str | None = None,
    end: str | None = None,
    agg_method: str = "avg",
    round_digits: int | None = 6,
    exact_decimals: int | None = None,
) -> DataFrame:
    """Wide matrix: one column per tag (TSQB:385-427 PIVOT).

    Tag list is explicit (as in the reference) so the pivot needs no
    extra distinct-values job. ``max`` in the pivot cell is deterministic
    (resample emits exactly one row per (tag, bucket)).
    """
    res = resample(
        df, spec, every_seconds, agg_method, start, end, list(tags),
        round_digits=round_digits, exact_decimals=exact_decimals,
    )
    return (
        res.groupBy(TS)
        .pivot(TAG, list(tags))
        .agg(F.max(VAL))
    )


def linreg_trend(
    df: DataFrame,
    spec: TSSpec,
    start: str | None = None,
    end: str | None = None,
    forecast_at: str | None = None,
    round_digits: int = 4,
) -> DataFrame:
    """Per-tag ordinary-least-squares trend + point forecast — the engine's
    take on the reference's LinearRegression forecasting component
    (forecasting/spark/linear_regression.py:22), expressed as the SQL
    regression aggregates both Spark and DuckDB implement natively
    (regr_slope / regr_intercept / regr_r2), so it is oracle-checkable.

    x is days since 2024-01-01 (not raw epoch seconds): centering keeps the
    normal-equation sums ~O(n * 10^3) where doubles carry ~12 safe digits,
    so 4-digit rounding is far above both engines' summation-order noise.
    """
    s = scan(df, spec, start, end)
    x = (
        (F.unix_timestamp(F.col(TS)) - F.unix_timestamp(F.lit("2024-01-01 00:00:00")))
        / 86400.0
    ).alias("x")
    base = s.select(TAG, x, F.col(VAL).alias("y"))
    agg = base.groupBy(TAG).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.regr_slope("y", "x"), round_digits).alias("slope_per_day"),
        F.round(F.regr_intercept("y", "x"), round_digits).alias("intercept"),
        F.round(F.regr_r2("y", "x"), round_digits).alias("r2"),
    )
    if forecast_at is not None:
        xh = (
            F.unix_timestamp(F.lit(forecast_at))
            - F.unix_timestamp(F.lit("2024-01-01 00:00:00"))
        ) / 86400.0
        # forecast from the ROUNDED slope/intercept so both engines compute
        # the identical product
        agg = agg.withColumn(
            "forecast",
            F.round(F.col("intercept") + F.col("slope_per_day") * xh, round_digits),
        )
    return agg


def ar1_forecast(
    df: DataFrame,
    spec: TSSpec,
    every_seconds: int,
    start: str | None = None,
    end: str | None = None,
    round_digits: int = 4,
) -> DataFrame:
    """Per-tag AR(1) fit over a resampled series + one-step forecast — the
    autoregressive half of the reference's ARIMA surface
    (forecasting/spark/arima.py:42; SURVEY §2.11), expressed entirely as
    distributed SQL regression aggregates so it is oracle-checkable (unlike
    the sequential SES recurrence in :func:`exp_smooth`).

    Pipeline: exact-decimal resample (order-independent bucket means) →
    lag(1) per tag → regr_slope/intercept of y_t on y_{t-1} → forecast
    y_{T+1} = intercept + phi * y_T from the ROUNDED coefficients so both
    engines compute the identical product. Two shuffles total (bucket agg,
    per-tag window+agg share one partitioning on tag).
    """
    s = resample(
        df, spec, every_seconds, "avg", start, end,
        round_digits=None, exact_decimals=2,
    )
    w = Window.partitionBy(TAG).orderBy(TS)
    b = s.withColumn("y_prev", F.lag(VAL).over(w)).filter(F.col("y_prev").isNotNull())
    agg = b.groupBy(TAG).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.regr_slope(VAL, "y_prev"), round_digits).alias("phi"),
        F.round(F.regr_intercept(VAL, "y_prev"), round_digits).alias("intercept"),
        F.round(F.max_by(VAL, TS), round_digits).alias("y_last"),
    )
    return agg.withColumn(
        "forecast",
        F.round(F.col("intercept") + F.col("phi") * F.col("y_last"), round_digits),
    )


def exp_smooth(
    df: DataFrame,
    spec: TSSpec,
    alpha: float = 0.3,
    horizon_steps: int = 1,
    start: str | None = None,
    end: str | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Per-tag simple exponential smoothing + flat h-step forecast — the
    engine's distributed stand-in for the reference's per-tag driver-side
    ARIMA loop (forecasting/spark/arima.py:42, auto_arima.py:23; SURVEY
    §2.11). One vectorized pass per tag inside applyInPandas (the recurrence
    s_i = a*v_i + (1-a)*s_{i-1} is inherently sequential per series, so
    per-tag grouped-map is the correct parallel shape: tags fan out across
    executors, each series smooths in C via pandas ewm).

    Output: one row per input row with the smoothed level, plus the per-tag
    one-step-ahead forecast repeated on every row of that tag (flat
    multi-step forecast = last level, the standard SES predictor).
    """
    import pandas as _pd

    base = scan(df, spec, start, end)

    def smooth(pdf: _pd.DataFrame) -> _pd.DataFrame:
        pdf = pdf.sort_values(TS).reset_index(drop=True)
        lvl = pdf[VAL].ewm(alpha=alpha, adjust=False).mean()
        pdf["level"] = lvl.round(round_digits)
        pdf["forecast"] = round(float(lvl.iloc[-1]), round_digits)
        return pdf[[TAG, TS, VAL, "level", "forecast"]]

    return base.groupBy(TAG).applyInPandas(
        smooth,
        schema=f"{TAG} string, {TS} timestamp, {VAL} double, level double, forecast double",
    )


def gap_sessions(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    gap_seconds: int,
    exact_decimals: int = 4,
) -> DataFrame:
    """Gap-based sessionization as a pure window/aggregate program: a new
    session starts when the inter-event gap within a key exceeds
    ``gap_seconds`` — the reference's lag-gap rule
    (monitoring/spark/identify_missing_data_interval.py:137-141,
    missing_value_imputation.py:147-151) taken to its session conclusion
    (gap flag → running sum = session id → per-session aggregate).

    This is the SQL-expressible face of the engine's sessionization family
    (the stateful streaming form lives in streaming/sessions.py and
    session_windows_native): fully oracle-checkable, one shuffle on the key,
    and the window + groupBy reuse the same partitioning so the session
    aggregate adds no second exchange.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col)
    # cast handles TIMESTAMP_NTZ sources (session tz is pinned UTC => lossless)
    ms = F.unix_millis(F.col(ts_col).cast("timestamp"))
    prev_ms = F.lag(ms).over(w)
    brk = F.when(
        prev_ms.isNull() | (ms - prev_ms > gap_seconds * 1000), F.lit(1)
    ).otherwise(F.lit(0))
    with_id = df.select(
        F.col(key_col),
        F.col(ts_col),
        F.col(value_col),
        F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("session_id"),
    )
    # exact scaled-integer sum (same rationale as resample exact_decimals):
    # order-independent => bit-identical across engines and partitionings
    scale = float(10**exact_decimals)
    units = F.round(F.col(value_col) * scale).cast("long")
    return with_id.groupBy(key_col, "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(units).cast("double") / scale).alias("sum_value"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    prefix: str = "asof_",
) -> DataFrame:
    """Nearest-previous (as-of) left join: for every left row, attach the
    right row with the greatest ``right_ts <= left_ts`` for the same keys.

    The reference has NO as-of join — its nearest-previous semantics are
    done with ``last_value(x, true) OVER (... ROWS UNBOUNDED PRECEDING)``
    forward-fill inside one table (_time_series_query_builder.py:1453-1454;
    SURVEY §2.3 "as-of join: absent"). This operator generalizes that trick
    to TWO tables the Spark-first way: union-tag the sides, one window
    forward-fill, filter back to the left side. No theta join anywhere —
    Catalyst would turn ``l.ts >= r.ts`` into a BroadcastNestedLoopJoin,
    which is quadratic and single-stage; the union+window form is one
    shuffle on ``keys`` plus an in-partition sort, the same cost as any
    windowed verb, and scales to arbitrarily many rows per key.

    Tie rule: right rows sort BEFORE left rows at equal timestamps, so an
    exactly-simultaneous right row matches (the >= convention, identical to
    ANSI/DuckDB ``ASOF LEFT JOIN ... ON l.k = r.k AND l.ts >= r.ts`` — the
    oracle the driver checks this against). If several right rows share
    (keys, right_ts), pre-aggregate them first (the packed struct max makes
    the pick deterministic: greatest (ts, values...) struct wins).
    """
    keys = list(keys)
    payload = F.struct(
        F.col(right_ts).alias(f"{prefix}ts"),
        *[F.col(c).alias(f"{prefix}{c}") for c in value_cols],
    )
    r = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        payload.alias("__r"),
        F.lit(0).alias("__side"),
    )
    # deterministic collapse of (keys, ts) duplicates on the build side:
    # struct max orders by ts first (equal here), then by value columns
    r = r.groupBy(*keys, "__ts", "__side").agg(F.max("__r").alias("__r"))
    lcols = [c for c in left.columns]
    l = left.select(
        *lcols,
        F.col(left_ts).alias("__ts"),
        F.lit(None).cast(r.schema["__r"].dataType).alias("__r"),
        F.lit(1).alias("__side"),
    )
    u = l.unionByName(r.select(*keys, "__ts", "__r", "__side"), allowMissingColumns=True)
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.withColumn("__m", F.last("__r", ignorenulls=True).over(w))
    return filled.filter(F.col("__side") == 1).select(
        *lcols,
        F.col(f"__m.{prefix}ts").alias(f"{prefix}ts"),
        *[F.col(f"__m.{prefix}{c}").alias(f"{prefix}{c}") for c in value_cols],
    )


def ar_auto_forecast(
    df: DataFrame,
    spec: TSSpec,
    every_seconds: int,
    max_p: int = 3,
    horizon_steps: int = 1,
    start: str | None = None,
    end: str | None = None,
    round_digits: int = 4,
) -> DataFrame:
    """Per-tag AR(p) with automatic order selection by AICc — the engine's
    distributed analog of the reference's ArimaAutoPrediction
    (forecasting/spark/auto_arima.py:23, a driver-side statsmodels
    auto_arima loop over tags; SURVEY §2.11). The differencing/MA terms are
    out of scope (as in :func:`ar1_forecast`); order selection is the part
    auto_arima actually adds.

    Shape: exact-decimal resample (order-independent bucket means) →
    ONE applyInPandas per tag. Tags fan out across executors; inside each
    group the candidate fits for p = 1..max_p are closed-form least squares
    on lagged design matrices (numpy lstsq, vectorized — never a per-row
    loop), scored by AICc, and the winner forecasts ``horizon_steps``
    recursively. State per task is O(series length), the same bound the
    resample output already has.

    Returns one row per tag: chosen order, AICc, coefficients (intercept
    first), and the h-step forecast path.
    """
    import numpy as np
    import pandas as _pd

    s = resample(
        df, spec, every_seconds, "avg", start, end,
        round_digits=None, exact_decimals=2,
    )

    def fit(pdf: _pd.DataFrame) -> _pd.DataFrame:
        pdf = pdf.sort_values(TS)
        y = pdf[VAL].to_numpy(dtype=np.float64)
        tag = pdf[TAG].iloc[0]
        best = None
        for p in range(1, max_p + 1):
            n = len(y) - p
            if n <= p + 2:  # AICc denominator (n - k - 1) must stay positive
                continue
            X = np.column_stack(
                [np.ones(n)] + [y[p - j - 1 : p - j - 1 + n] for j in range(p)]
            )
            target = y[p:]
            coef, *_ = np.linalg.lstsq(X, target, rcond=None)
            rss = float(np.sum((target - X @ coef) ** 2))
            kparams = p + 1
            aicc = (
                n * np.log(max(rss, 1e-300) / n)
                + 2 * kparams
                + (2.0 * kparams * (kparams + 1)) / (n - kparams - 1)
            )
            if best is None or aicc < best[0]:
                best = (float(aicc), p, coef)
        if best is None:
            return _pd.DataFrame(
                {"tagname": [tag], "p": [0], "aicc": [np.nan],
                 "coef": [[]], "forecast": [[]]}
            )
        aicc, p, coef = best
        hist = list(y)
        fc = []
        for _ in range(horizon_steps):
            nxt = coef[0] + float(
                np.dot(coef[1:], np.array(hist[-1 : -p - 1 : -1], dtype=np.float64))
            )
            fc.append(round(nxt, round_digits))
            hist.append(nxt)
        return _pd.DataFrame(
            {
                "tagname": [tag],
                "p": [p],
                "aicc": [round(aicc, round_digits)],
                "coef": [[round(float(c), 8) for c in coef]],
                "forecast": [fc],
            }
        )

    return s.groupBy(TAG).applyInPandas(
        fit,
        schema="tagname string, p int, aicc double, coef array<double>, forecast array<double>",
    )
