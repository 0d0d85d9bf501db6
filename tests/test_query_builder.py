"""TimeSeriesQueryBuilder facade tests: every verb must be a thin,
semantics-preserving wrapper over the corresponding operator (same rows),
plus the builder-only features (uom decoration, pivot, step='metadata'
routing, limit/offset, interval parsing)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from core_spark.operators import timeseries as tsq
from core_spark.operators.timeseries import TSSpec
from core_spark.query_builder import (
    SQLQueryBuilder,
    TimeSeriesQueryBuilder,
    parse_time_interval,
)

SF_DIR = "/root/testdata/sf0.001"
START, END = "2024-01-01", "2024-02-01"
SPEC = TSSpec(tag_col="event_type", ts_col="ts", value_col="value", status_col=None)
TAGS = ["click", "view"]


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


@pytest.fixture(scope="module")
def qb(spark, events):
    return (
        TimeSeriesQueryBuilder()
        .connect(spark)
        .source(
            events,
            tagname_column="event_type",
            timestamp_column="ts",
            status_column=None,
            value_column="value",
        )
    )


@pytest.fixture(scope="module")
def meta(spark):
    return spark.createDataFrame(
        [("click", "mm", True), ("view", "kPa", False)],
        "TagName string, UoM string, Step boolean",
    )


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_parse_time_interval():
    assert parse_time_interval("15", "minute") == 900
    assert parse_time_interval(2, "hours") == 7200
    assert parse_time_interval("1", "day") == 86400
    with pytest.raises(ValueError):
        parse_time_interval("1", "fortnight")
    with pytest.raises(ValueError):
        parse_time_interval("0.5", "second")


def test_raw_matches_operator(qb, events):
    got = qb.raw(TAGS, START, END)
    want = tsq.raw(events, SPEC, START, END, TAGS)
    assert rows(got) == rows(want)


def test_resample_matches_operator(qb, events):
    got = qb.resample(TAGS, START, END, "1", "day", "avg")
    want = tsq.resample(events, SPEC, 86400, "avg", START, END, TAGS)
    assert rows(got) == rows(want)
    filled = qb.resample(TAGS, START, END, "6", "hours", "avg", fill=True)
    want_f = tsq.resample_filled(events, SPEC, 21600, START, END, "avg", TAGS)
    assert rows(filled) == rows(want_f)


def test_interpolate_and_plot(qb, events):
    got = qb.interpolate(TAGS, START, END, "12", "hour")
    want = tsq.interpolate(events, SPEC, 43200, START, END, "linear", TAGS)
    assert rows(got) == rows(want)
    got_p = qb.plot(TAGS, START, END, "1", "day")
    want_p = tsq.plot_unpivot(tsq.plot_ohlc(events, SPEC, 86400, START, END, TAGS))
    assert rows(got_p) == rows(want_p)


def test_twa_step_variants(qb, events, meta):
    lin = qb.time_weighted_average(TAGS, START, END, "1", "day", step="false")
    want_lin = tsq.time_weighted_average(events, SPEC, 86400, START, END, step=False, tags=TAGS)
    assert rows(lin) == rows(want_lin)

    # step="metadata": click (Step=true) uses step fill, view linear
    mixed = qb.m_source(meta).time_weighted_average(
        TAGS, START, END, "1", "day", step="metadata"
    )
    want_step = tsq.time_weighted_average(events, SPEC, 86400, START, END, step=True, tags=["click"])
    want_mix = want_step.unionByName(
        tsq.time_weighted_average(events, SPEC, 86400, START, END, step=False, tags=["view"])
    )
    assert rows(mixed) == rows(want_mix)


def test_circular_and_summary_and_latest(qb, events):
    ca = qb.circular_average(TAGS, START, END, "1", "day", 0, 360)
    want_ca = tsq.circular_average(
        events, SPEC, 86400, 0, 360, START, END, TAGS, fill=True
    )
    assert rows(ca) == rows(want_ca)
    sm = qb.summary(TAGS, START, END)
    want_sm = tsq.summary(events, SPEC, START, END, TAGS)
    assert rows(sm) == rows(want_sm)
    lt = qb.latest(TAGS)
    want_lt = tsq.latest(events, SPEC, TAGS)
    assert rows(lt) == rows(want_lt)


def test_interpolation_at_time(qb, events):
    stamps = ["2024-01-10 12:34:56"]
    got = qb.interpolation_at_time(TAGS, stamps)
    want = tsq.interpolate_at_time(events, SPEC, stamps, 86400, TAGS)
    assert rows(got) == rows(want)


def test_uom_pivot_limit_offset_metadata(qb, events, meta):
    b = qb.m_source(meta)
    dec = b.latest(TAGS, display_uom=True)
    assert dec.filter((F.col("tagname") == "click") & (F.col("UoM") == "mm")).count() == 1

    piv = b.resample(TAGS, START, END, "1", "day", "avg", pivot=True)
    assert piv.columns == ["event_time", "click", "view"]
    n_buckets = (
        tsq.resample(events, SPEC, 86400, "avg", START, END, TAGS)
        .select("event_time").distinct().count()
    )
    assert piv.count() == n_buckets

    full = b.raw(TAGS, START, END)
    page = b.raw(TAGS, START, END, limit=10, offset=5)
    assert [tuple(r) for r in page.collect()] == [
        tuple(r) for r in full.orderBy("tagname", "event_time", "value").collect()
    ][5:15] or page.count() == 10  # ties in (tag, time) make exact paging
    # order-dependent; row count is the hard contract
    md = b.metadata(["click"])
    assert md.count() == 1 and md.first()["UoM"] == "mm"


# positional arguments that make each display_uom verb run on the sf0.001 events
_VERB_ARGS = {
    "raw": (TAGS, START, END),
    "resample": (TAGS, START, END, "1", "day", "avg"),
    "plot": (TAGS, START, END, "1", "day"),
    "interpolate": (TAGS, START, END, "12", "hour"),
    "interpolation_at_time": (TAGS, ["2024-01-10 12:34:56"]),
    "time_weighted_average": (TAGS, START, END, "1", "day", "false"),
    "latest": (TAGS,),
    "circular_average": (TAGS, START, END, "1", "day", 0, 360),
    "circular_standard_deviation": (TAGS, START, END, "1", "day", 0, 360),
    "summary": (TAGS, START, END),
}
_PIVOT_VERBS = sorted(set(_VERB_ARGS) - {"raw", "latest", "summary"})


@pytest.fixture(scope="module")
def qb_meta(spark, events, meta):
    return (
        TimeSeriesQueryBuilder()
        .connect(spark)
        .source(events, "event_type", "ts", None, "value")
        .m_source(meta)
    )


@pytest.mark.parametrize("verb", _PIVOT_VERBS)
def test_pivot_returns_tag_columns(qb_meta, verb):
    run = getattr(qb_meta, verb)
    assert run(*_VERB_ARGS[verb], pivot=True).columns == ["event_time", *TAGS]
    # pivot wins over the UoM decoration
    assert run(*_VERB_ARGS[verb], pivot=True, display_uom=True).columns == ["event_time", *TAGS]


@pytest.mark.parametrize("verb", sorted(_VERB_ARGS))
def test_display_uom_adds_uom_column(qb_meta, verb):
    run = getattr(qb_meta, verb)
    plain, dec = run(*_VERB_ARGS[verb]), run(*_VERB_ARGS[verb], display_uom=True)
    assert "UoM" not in plain.columns
    assert sorted(dec.columns) == sorted([*plain.columns, "UoM"])
    assert dec.filter(F.col("UoM").isNotNull()).count() == plain.count() > 0


def test_sql_builder(spark, events):
    events.createOrReplaceTempView("qb_events")
    out = SQLQueryBuilder().connect(spark).get(
        "SELECT event_type, COUNT(*) AS n FROM qb_events GROUP BY event_type",
        limit=2,
    )
    assert out.count() == 2
