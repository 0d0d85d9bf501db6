"""Time-series verb semantics on hand-computed fixtures.

Fixture mirrors the reference's tier-2 test style (SURVEY §5: explicit
4-col PCDM frame, expected frame, tolerance compare) — two tags, 5-minute
cadence with deleted points, duplicates, and Bad-status sprinkles.
"""

from __future__ import annotations

import re
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from core_spark.operators import timeseries as tsq
from core_spark.operators.timeseries import TSSpec

SPEC = TSSpec(tag_col="TagName", ts_col="EventTime", value_col="Value", status_col="Status")


def t(minute: int, second: int = 0) -> datetime:
    return datetime(2024, 1, 1, 0, minute, second)


@pytest.fixture(scope="module")
def events(spark):
    # TAG-A: linear ramp value = minute, one dup, one Bad, gap at minute 20
    rows = [
        ("TAG-A", t(0), "Good", 0.0),
        ("TAG-A", t(5), "Good", 5.0),
        ("TAG-A", t(5), "Good", 5.0),          # duplicate row
        ("TAG-A", t(10), "Bad", 999.0),        # bad quality
        ("TAG-A", t(15), "Good", 15.0),
        ("TAG-A", t(25), "Good", 25.0),        # minute-20 point missing
        ("TAG-B", t(2), "Good", 100.0),
        ("TAG-B", t(7), "Good", 107.0),
        ("TAG-B", t(12), "Good", 112.0),
    ]
    return spark.createDataFrame(rows, "TagName string, EventTime timestamp, Status string, Value double")


def as_map(df, key_cols=("tagname", "event_time")):
    return {tuple(r[k] for k in key_cols): r for r in df.collect()}


def test_raw_dedup_and_quality(events):
    out = tsq.raw(events, SPEC, include_bad=False).collect()
    assert len(out) == 8 - 1  # dup collapsed, Bad row dropped => 7
    vals = {(r["tagname"], r["event_time"]): r["value"] for r in out}
    assert vals[("TAG-A", t(5))] == 5.0
    assert ("TAG-A", t(10)) not in vals


def test_resample_avg_10min(events):
    out = as_map(tsq.resample(events, SPEC, 600, "avg", include_bad=False))
    # TAG-A bucket 00:00: events at 0,5 (dedup'd) -> avg 2.5
    assert out[("TAG-A", t(0))]["value"] == 2.5
    # TAG-A bucket 00:10: only Good event 15 -> 15
    assert out[("TAG-A", t(10))]["value"] == 15.0
    assert out[("TAG-A", t(20))]["value"] == 25.0
    assert out[("TAG-B", t(0))]["value"] == pytest.approx(103.5)


def test_resample_first_last(events):
    first = as_map(tsq.resample(events, SPEC, 600, "first", include_bad=False))
    last = as_map(tsq.resample(events, SPEC, 600, "last", include_bad=False))
    assert first[("TAG-B", t(0))]["value"] == 100.0
    assert last[("TAG-B", t(0))]["value"] == 107.0


def test_resample_filled_has_null_buckets(events):
    out = tsq.resample_filled(
        events, SPEC, 600, "2024-01-01 00:00:00", "2024-01-01 00:30:00",
        include_bad=False,
    )
    rows = as_map(out)
    assert len(rows) == 6  # 2 tags x 3 buckets
    assert rows[("TAG-B", t(20))]["value"] is None  # empty bucket emitted


def test_interpolate_linear(events):
    out = as_map(
        tsq.interpolate(
            events, SPEC, 600, "2024-01-01 00:00:00", "2024-01-01 00:30:00",
            method="linear", include_bad=False,
        )
    )
    # TAG-B bucket 20 is empty: prev bucket avg (00:10 -> 112), no next -> ffill
    assert out[("TAG-B", t(20))]["value"] == 112.0
    # all TAG-A buckets have data (0->2.5, 10->15, 20->25)
    assert out[("TAG-A", t(10))]["value"] == 15.0


def test_interpolate_linear_midgap(spark):
    # one tag, values at bucket 0 and bucket 20, nothing between:
    # bucket 10 must be the linear midpoint
    rows = [("X", t(0), "Good", 10.0), ("X", t(25), "Good", 40.0)]
    df = spark.createDataFrame(rows, "TagName string, EventTime timestamp, Status string, Value double")
    out = as_map(
        tsq.interpolate(df, SPEC, 600, "2024-01-01 00:00:00", "2024-01-01 00:30:00", "linear")
    )
    # bucket values: t0 -> 10 (data), t20 -> 40 (data); t10 interpolated
    # between bucket-starts 00:00 (10.0) and 00:20 (40.0) -> 25.0
    assert out[("X", t(10))]["value"] == pytest.approx(25.0)


def test_interpolate_ffill_bfill(spark):
    rows = [("X", t(5), "Good", 10.0), ("X", t(25), "Good", 40.0)]
    df = spark.createDataFrame(rows, "TagName string, EventTime timestamp, Status string, Value double")
    f = as_map(tsq.interpolate(df, SPEC, 600, "2024-01-01 00:00:00", "2024-01-01 00:30:00", "ffill"))
    b = as_map(tsq.interpolate(df, SPEC, 600, "2024-01-01 00:00:00", "2024-01-01 00:30:00", "bfill"))
    assert f[("X", t(10))]["value"] == 10.0
    assert f[("X", t(0))]["value"] == 10.0  # bucket 0 contains the t(5) event
    assert b[("X", t(10))]["value"] == 40.0


def test_interpolate_at_time(spark):
    rows = [("X", t(0), "Good", 0.0), ("X", t(10), "Good", 100.0)]
    df = spark.createDataFrame(rows, "TagName string, EventTime timestamp, Status string, Value double")
    out = tsq.interpolate_at_time(
        df, SPEC, ["2024-01-01 00:02:30", "2024-01-01 00:10:00"]
    ).collect()
    got = {r["event_time"]: r["value"] for r in out}
    assert got[t(2, 30)] == pytest.approx(25.0)
    assert got[t(10)] == 100.0  # exact-time event wins


_BOUND = r"unboundedpreceding\$\(\)|unboundedfollowing\$\(\)|currentrow\$\(\)|-?\d+"
_FRAME = re.compile(rf"specifiedwindowframe\(\w+, ({_BOUND}), ({_BOUND})\)")
_T0, _T1 = "2024-01-01 00:00:00", "2024-01-01 00:30:00"
_GAP_FILLS = {
    "interpolate_linear": lambda df: tsq.interpolate(df, SPEC, 600, _T0, _T1, "linear"),
    "interpolate_bfill": lambda df: tsq.interpolate(df, SPEC, 600, _T0, _T1, "bfill"),
    "interpolate_at_time": lambda df: tsq.interpolate_at_time(df, SPEC, ["2024-01-01 00:20:00"]),
    "twa_linear": lambda df: tsq.time_weighted_average(df, SPEC, 600, _T0, _T1, step=False),
}


@pytest.mark.parametrize("verb", sorted(_GAP_FILLS))
def test_gap_fills_use_running_frames(events, verb):
    """A frame that ends at UNBOUNDED FOLLOWING but starts later than
    UNBOUNDED PRECEDING is re-aggregated for every row — quadratic in a
    tag's rows. Every gap fill must look ahead with a running frame over the
    mirrored order instead; whole-partition frames are linear and allowed."""
    df = _GAP_FILLS[verb](events)
    df.collect()
    frames = _FRAME.findall(df._jdf.queryExecution().executedPlan().toString())
    assert frames, "no window frame found in the executed plan"
    ahead = [f for f in frames if f[1] == "unboundedfollowing$()" and f[0] != "unboundedpreceding$()"]
    assert not ahead, ahead


def test_summary(events):
    rows = {r["tagname"]: r for r in tsq.summary(events, SPEC, include_bad=False).collect()}
    a = rows["TAG-A"]
    assert a["cnt"] == 5  # dup kept (summary has no DISTINCT in reference)
    assert float(a["min"]) == 0.0
    assert float(a["max"]) == 25.0
    assert float(a["sum"]) == 50.0


def test_latest(events):
    rows = {r["tagname"]: r for r in tsq.latest(events, SPEC).collect()}
    assert rows["TAG-A"]["event_time"] == t(25)
    assert rows["TAG-A"]["value"] == 25.0
    assert rows["TAG-B"]["value"] == 112.0


def test_plot_ohlc(events):
    out = as_map(tsq.plot_ohlc(events, SPEC, 600, "2024-01-01 00:00:00", "2024-01-01 00:30:00"))
    b0 = out[("TAG-A", t(0))]
    assert b0["min_value"] == 0.0 and b0["max_value"] == 5.0
    assert b0["first_value"] == 0.0 and b0["last_value"] == 5.0
    b1 = out[("TAG-A", t(10))]
    assert b1["exception_value"] == 999.0  # first Bad in bucket
    assert b1["max_value"] == 999.0


def test_twa_step_constant_segments(spark):
    # step TWA of a step function: value 10 for first 10 min, 30 after
    rows = [("X", t(0), "Good", 10.0), ("X", t(10), "Good", 30.0), ("X", t(20), "Good", 30.0)]
    df = spark.createDataFrame(rows, "TagName string, EventTime timestamp, Status string, Value double")
    out = as_map(
        tsq.time_weighted_average(
            df, SPEC, 600, "2024-01-01 00:00:00", "2024-01-01 00:20:00", step=True
        )
    )
    assert out[("X", t(0))]["value"] == pytest.approx(10.0)
    assert out[("X", t(10))]["value"] == pytest.approx(30.0)


def test_twa_linear_ramp(spark):
    # linear TWA of a linear ramp 0->20 over 20 min: bucket0 avg=5, bucket1 avg=15
    rows = [("X", t(0), "Good", 0.0), ("X", t(20), "Good", 20.0)]
    df = spark.createDataFrame(rows, "TagName string, EventTime timestamp, Status string, Value double")
    out = as_map(
        tsq.time_weighted_average(
            df, SPEC, 600, "2024-01-01 00:00:00", "2024-01-01 00:20:00", step=False
        )
    )
    assert out[("X", t(0))]["value"] == pytest.approx(5.0)
    assert out[("X", t(10))]["value"] == pytest.approx(15.0)


def test_twa_bad_status_excluded(spark):
    # Bad segment (10..20min) excluded from numerator and denominator
    rows = [
        ("X", t(0), "Good", 10.0),
        ("X", t(10), "Bad", 99.0),
        ("X", t(20), "Good", 10.0),
    ]
    df = spark.createDataFrame(rows, "TagName string, EventTime timestamp, Status string, Value double")
    out = as_map(
        tsq.time_weighted_average(
            df, SPEC, 1200, "2024-01-01 00:00:00", "2024-01-01 00:20:00", step=True
        )
    )
    # only the Good 0-10min segment counts: value 10
    assert out[("X", t(0))]["value"] == pytest.approx(10.0)


def test_circular_average_wraparound(spark):
    # angles 350 and 10 around north: circular mean = 0 (not 180)
    rows = [("X", t(1), "Good", 350.0), ("X", t(2), "Good", 10.0)]
    df = spark.createDataFrame(rows, "TagName string, EventTime timestamp, Status string, Value double")
    out = tsq.circular_average(df, SPEC, 600, 0.0, 360.0).collect()
    assert out[0]["value"] == pytest.approx(0.0, abs=1e-6)


def test_circular_stddev_zero_for_identical(spark):
    rows = [("X", t(1), "Good", 90.0), ("X", t(2), "Good", 90.0)]
    df = spark.createDataFrame(rows, "TagName string, EventTime timestamp, Status string, Value double")
    out = tsq.circular_stddev(df, SPEC, 600, 0.0, 360.0).collect()
    assert out[0]["value"] == pytest.approx(0.0, abs=1e-6)


def test_pivot_wide(events):
    out = tsq.pivot_wide(events, SPEC, 600, ["TAG-A", "TAG-B"]).orderBy("event_time").collect()
    assert out[0]["TAG-A"] == 2.5
    assert out[0]["TAG-B"] == pytest.approx(103.5)


def test_asof_join_nearest_previous_and_ties(spark):
    from core_spark.operators.timeseries import asof_join

    left = spark.createDataFrame(
        [(1, 100, "2024-01-01 00:00:10"),
         (2, 100, "2024-01-01 00:00:20"),
         (3, 100, "2024-01-01 00:00:05"),
         (4, 200, "2024-01-01 00:00:30")],
        "event_id long, user_id long, ts_s string",
    ).select("event_id", "user_id", F.to_timestamp("ts_s").alias("ts"))
    right = spark.createDataFrame(
        [(100, "2024-01-01 00:00:10", 1.0),   # tie: matches event 1 (>=)
         (100, "2024-01-01 00:00:15", 2.0),
         (100, "2024-01-01 00:00:15", 5.0)],  # dup (key, ts): max value wins
        "user_id long, ts_s string, value double",
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"), "value")
    got = {
        r["event_id"]: (r["asof_value"], r["asof_ts"] is not None)
        for r in asof_join(
            left, right, ["user_id"], "ts", "ts", ["value"]
        ).collect()
    }
    assert got[1] == (1.0, True)   # equal-timestamp right row matches
    assert got[2] == (5.0, True)   # nearest previous; dup collapsed to max
    assert got[3] == (None, False)  # nothing at or before => nulls
    assert got[4] == (None, False)  # no right rows for this key


def test_gap_sessions_split_and_aggregate(spark):
    from core_spark.operators.timeseries import gap_sessions

    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:10:00", 2.0),   # same session (gap 10m < 30m)
        (1, "2024-01-01 01:00:00", 4.0),   # new session (gap 50m)
        (2, "2024-01-01 00:00:00", 8.0),   # separate key
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string, value double").select(
        "user_id", F.to_timestamp("ts_s").alias("ts"), "value"
    )
    got = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["sum_value"])
        for r in gap_sessions(df, "user_id", "ts", "value", 1800).collect()
    }
    assert got == {(1, 1): (2, 3.0), (1, 2): (1, 4.0), (2, 1): (1, 8.0)}


# ---------------------------------------------------------------- quantiles


def test_percentiles_matches_numpy(spark):
    """Exact type-7 percentiles equal numpy.quantile(method='linear')."""
    import numpy as np

    vals_a = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0]
    vals_b = [10.0, 20.0, 30.0, 40.0]
    rows = [("A", t(i), "Good", v) for i, v in enumerate(vals_a)]
    rows += [("B", t(i), "Good", v) for i, v in enumerate(vals_b)]
    df = spark.createDataFrame(
        rows, "TagName string, EventTime timestamp, Status string, Value double"
    )
    got = {
        r["tagname"]: r.asDict()
        for r in tsq.percentiles(df, SPEC, ps=(0.5, 0.9, 0.95, 0.99)).collect()
    }
    for tag, vals in (("A", vals_a), ("B", vals_b)):
        assert got[tag]["cnt"] == len(vals)
        for p, col in ((0.5, "p50"), (0.9, "p90"), (0.95, "p95"), (0.99, "p99")):
            exp = float(np.quantile(np.array(vals), p, method="linear"))
            assert got[tag][col] == pytest.approx(exp, abs=1e-12), (tag, col)


def test_percentiles_excludes_bad(spark, events):
    got = {r["tagname"]: r for r in tsq.percentiles(events, SPEC).collect()}
    assert got["TAG-A"]["cnt"] == 5  # Bad row dropped, duplicate kept
    assert got["TAG-A"]["p99"] < 999.0


def test_percentiles_skip_nulls_like_the_oracles(spark):
    """NULL values are skipped as by any SQL aggregate, in the batch verb
    and in both DuckDB oracles (batch and stream): values 1, NULL, 3, 2 give
    cnt 3, p0 1.0, p50 2.0; an all-NULL tag gives cnt 0, NULL percentiles."""
    import duckdb
    import pyarrow as pa

    from core_spark import registry

    rows = [
        ("a", t(0), 1.0), ("a", t(1), None), ("a", t(2), 3.0), ("a", t(3), 2.0),
        ("n", t(0), None), ("n", t(1), None),
        # hours later: the stream oracle's watermark closes hour 0
        ("z", datetime(2024, 1, 1, 3), 0.0),
    ]
    want = {"a": (3, 1.0, 2.0), "n": (0, None, None)}
    ps = (0.0, 0.5)
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    got = {
        r[0]: tuple(r[1:])
        for r in tsq.percentiles(df, registry.EVENTS_SPEC, ps=ps).collect()
    }
    con = duckdb.connect()
    con.register("events", pa.Table.from_pylist(
        [dict(zip(("event_type", "ts", "value"), r)) for r in rows]
    ))
    batch_sql = {r[0]: r[1:] for r in con.sql(registry._pctl_sql(ps)).fetchall()}
    stream_sql = {r[0]: r[2:] for r in con.sql(registry._stream_pctl_sql(ps)).fetchall()}
    for tag, w in want.items():
        assert got[tag] == w and batch_sql[tag] == w and stream_sql[tag] == w, tag


def test_topk_by_bucket(spark, events):
    out = tsq.topk_by_bucket(events, SPEC, every_sec=600, k=2).toPandas()
    a0 = out[(out["tagname"] == "TAG-A") & (out["rank"] == 1)]
    # first 10-min bucket of TAG-A: values {0, 5, 5(dup), 999-Bad} -> top is 5.0
    first = a0.sort_values("bucket").iloc[0]
    assert first["value"] == 5.0
    # rank 2 is the duplicate 5.0 (ties broken by time => same value twice)
    a = out[out["tagname"] == "TAG-A"].sort_values(["bucket", "rank"])
    b0 = a[a["bucket"] == a["bucket"].min()]
    assert list(b0["value"]) == [5.0, 5.0]
    assert (out.groupby(["tagname", "bucket"]).size() <= 2).all()
