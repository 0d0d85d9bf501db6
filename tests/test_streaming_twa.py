"""Streaming time-weighted-average tests: integration kernel math, exact
parity of the stateful streaming operator with the batch TWA verb (the
reference semantics oracle), cross-micro-batch state carry, and the
late-contribution CDC path.
"""

from __future__ import annotations

import time
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from core_spark import synth
from core_spark.operators import timeseries as tso
from core_spark.operators.timeseries import TSSpec
from core_spark.streaming import source as src
from core_spark.streaming import twa as stwa
from core_spark.streaming.windows import clip_features

BASE = datetime(2024, 3, 1)


# ------------------------------------------------------------------ kernel

def test_integrate_constant_series():
    # constant 2.0 over [0, 180): every bucket's TWA is 2.0
    b, tw, dt = stwa.integrate_segments([0, 60, 120, 180], [2.0] * 4, 60, step=False)
    assert b.tolist() == [0, 60, 120]
    assert all((w / 1e6) / (d / 1e3) == pytest.approx(2.0) for w, d in zip(tw, dt))


def test_integrate_ramp_splits_at_edges():
    # one segment 0->120s ramping 0->12: bucket 0 mean=3, bucket 60 mean=9
    b, tw, dt = stwa.integrate_segments([0, 120], [0.0, 12.0], 60, step=False)
    assert b.tolist() == [0, 60]
    vals = [(w / 1e6) / (d / 1e3) for w, d in zip(tw, dt)]
    assert vals[0] == pytest.approx(3.0) and vals[1] == pytest.approx(9.0)
    # step mode holds the left value: both buckets 0.0
    b2, tw2, dt2 = stwa.integrate_segments([0, 120], [0.0, 12.0], 60, step=True)
    assert [(w / 1e6) / (d / 1e3) for w, d in zip(tw2, dt2)] == [0.0, 0.0]


def test_integrate_unaligned_and_degenerate():
    # segment 30->90 crossing one edge; plus zero-length segment collapses
    b, tw, dt = stwa.integrate_segments([30, 30, 90], [4.0, 4.0, 8.0], 60, step=False)
    assert b.tolist() == [0, 60]
    assert (dt / 1e3).tolist() == [30.0, 30.0]
    # [30,60): mean of 4..6 = 5 ; [60,90): mean of 6..8 = 7
    vals = [(w / 1e6) / (d / 1e3) for w, d in zip(tw, dt)]
    assert vals == [pytest.approx(5.0), pytest.approx(7.0)]
    # single observation -> nothing to integrate
    assert len(stwa.integrate_segments([10], [1.0], 60, False)[0]) == 0


# ------------------------------------------------------- batch == TWA verb

@pytest.fixture(scope="module")
def ordered_clips(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("twa_clips"))
    # strictly in-order, no stragglers/gap jumps: 1500 clips, one every 2s
    pdf = synth.make_clips_pdf(
        1500, step_ms=2000, disorder_ms=0, late_every=10**6, gap_every=10**6
    )
    for k in range(3):
        spark.createDataFrame(
            pdf.iloc[k * 500 : (k + 1) * 500], schema=synth.CLIPS_SCHEMA
        ).coalesce(1).write.mode("append").parquet(d)
        time.sleep(1.1)
    return d


def _twa_verb_reference(spark, clips_dir, every=60, step=False):
    """The batch TWA verb over the same (prefix, ingest_ts, energy) series."""
    feats = clip_features(src.clips_batch(spark, clips_dir)).select(
        "prefix", "ingest_ts", "energy"
    )
    spec = TSSpec(tag_col="prefix", ts_col="ingest_ts", value_col="energy",
                  status_col=None)
    return tso.time_weighted_average(
        feats, spec, every, "2024-03-01 00:00:00", "2024-03-03 00:00:00",
        step=step, widen_seconds=0,
    ).withColumnRenamed("tagname", "prefix")


def _obs_range(spark, clips_dir):
    """Per-prefix (first_obs, last_obs) in epoch seconds."""
    feats = clip_features(src.clips_batch(spark, clips_dir))
    r = (
        feats.groupBy("prefix")
        .agg(
            F.min(F.unix_timestamp("ingest_ts")).alias("lo"),
            F.max(F.unix_timestamp("ingest_ts")).alias("hi"),
        )
        .collect()
    )
    return {x["prefix"]: (x["lo"], x["hi"]) for x in r}


def _complete_buckets(pdf, rng, every=60):
    """Buckets fully inside a prefix's observed span — the region where the
    streaming operator and the TWA verb are defined identically (the verb
    additionally FORWARD-FILLS from the last observation to the grid end,
    TSQB only-prev fill; the streaming operator deliberately does not
    extrapolate beyond data)."""
    ep = pdf["event_time"].astype("int64") // 10**9
    lo = pdf["prefix"].map(lambda p: rng[p][0])
    hi = pdf["prefix"].map(lambda p: rng[p][1])
    return (
        pdf[(ep >= lo) & (ep + every <= hi)]
        .sort_values(["prefix", "event_time"])
        .reset_index(drop=True)
    )


def _parity_vs_verb(spark, ordered_clips, step):
    rng = _obs_range(spark, ordered_clips)
    got = _complete_buckets(
        stwa.twa_stream(clip_features(src.clips_batch(spark, ordered_clips)), 60, step=step)
        .select("prefix", "event_time", "value")
        .toPandas(),
        rng,
    )
    ref = _complete_buckets(
        _twa_verb_reference(spark, ordered_clips, step=step)
        .select("prefix", "event_time", "value")
        .toPandas(),
        rng,
    )
    pd.testing.assert_frame_equal(got, ref)
    assert len(got) > 20


def test_batch_path_matches_twa_verb(spark, ordered_clips):
    _parity_vs_verb(spark, ordered_clips, step=False)


def test_batch_path_matches_twa_verb_step(spark, ordered_clips):
    _parity_vs_verb(spark, ordered_clips, step=True)


# --------------------------------------------------------------- streaming

def test_stream_closed_buckets_match_batch(spark, ordered_clips):
    res = stwa.twa_stream(
        clip_features(src.clips_stream(spark, ordered_clips, max_files_per_trigger=1)),
        60, watermark_sec=10, grace_sec=30,
    )
    q = (
        res.writeStream.format("memory")
        .queryName("t_twa_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_twa_stream").toPandas()
    assert not got["late"].any()
    # every closed bucket equals the batch oracle bit-for-bit
    ref = stwa.twa_stream(clip_features(src.clips_batch(spark, ordered_clips)), 60).toPandas()
    ref_map = {(r["prefix"], r["event_time"]): r for _, r in ref.iterrows()}
    assert len(got) > 10
    for _, r in got.iterrows():
        k = (r["prefix"], r["event_time"])
        assert k in ref_map
        assert r["value"] == ref_map[k]["value"]
        assert r["good_sec"] == ref_map[k]["good_sec"]
    # closed buckets are a strict subset (tail buckets stay open at end)
    assert len(got) < len(ref)
    # no bucket emitted twice
    assert not got.duplicated(subset=["prefix", "event_time"]).any()


def test_stream_late_contribution_flagged(spark, tmp_path):
    in_dir = str(tmp_path / "clips")

    def write(specs):
        pdf = synth.make_clips_pdf(len(specs))
        pdf["clip_id"] = [c for c, _ in specs]
        pdf["ingest_ts"] = [ts for _, ts in specs]
        spark.createDataFrame(pdf, schema=synth.CLIPS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    t = lambda s: BASE + timedelta(seconds=s)
    # batch 1: aw events through 62s + a far-future ay event (the watermark
    # only advances AFTER a batch commits, so nothing closes yet)
    write([("aw-00000001", t(0)), ("aw-00000002", t(30)), ("aw-00000003", t(62)),
           ("ay-00000099", t(5000))])
    time.sleep(1.1)
    # batch 2: watermark is now ~4995s -> aw's buckets [0,60) and [60,120)
    # close; [60,120) has only the 2s sliver [62, 64)... nothing more yet
    write([("ay-00000098", t(5100))])
    time.sleep(1.1)
    # batch 3: aw wakes after a LONG sparse gap — the event itself is within
    # the watermark (5150 >= 5095) but its carried segment starts at 62s, so
    # its mass lands in buckets that already closed -> late CDC rows. (A row
    # BELOW the watermark would be dropped by the engine before the operator
    # — the standard watermark contract, asserted in
    # test_stream_drops_subwatermark_rows.)
    write([("aw-00000004", t(5150)), ("ay-00000097", t(5200))])

    res = stwa.twa_stream(
        clip_features(src.clips_stream(spark, in_dir, max_files_per_trigger=1)),
        60, watermark_sec=5, grace_sec=10,
    )
    q = (
        res.writeStream.format("memory")
        .queryName("t_twa_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_twa_late").toPandas()
    aw = got[got["prefix"] == "aw"]
    closed = aw[~aw["late"]]
    # [0,60) closed complete; [60,120) closed with only its 2s sliver
    assert (closed["event_time"] == t(0)).any()
    b60 = closed[closed["event_time"] == t(60)]
    assert len(b60) == 1 and b60.iloc[0]["good_sec"] == 2.0
    # the sparse segment's mass lands post-closure as late CDC rows: the
    # remainder of [60,120) plus the fully-covered closed buckets after it
    late = aw[aw["late"]]
    lb60 = late[late["event_time"] == t(60)]
    assert len(lb60) == 1 and lb60.iloc[0]["good_sec"] == 58.0
    full = late[late["event_time"] == t(120)]
    assert len(full) == 1 and full.iloc[0]["good_sec"] == 60.0
    # no bucket appears twice within a flag class
    assert not aw.duplicated(subset=["event_time", "late"]).any()


def test_stream_drops_subwatermark_rows(spark, tmp_path):
    # a row strictly below the watermark never reaches the operator — the
    # engine's own late-row filter (standard watermark contract); the TWA
    # state therefore never integrates it and no output references it
    in_dir = str(tmp_path / "clips")

    def write(specs):
        pdf = synth.make_clips_pdf(len(specs))
        pdf["clip_id"] = [c for c, _ in specs]
        pdf["ingest_ts"] = [ts for _, ts in specs]
        spark.createDataFrame(pdf, schema=synth.CLIPS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    t = lambda s: BASE + timedelta(seconds=s)
    write([("aw-00000001", t(5000))])
    time.sleep(1.1)
    write([("aw-00000002", t(100))])  # 4895s below the watermark -> dropped
    res = stwa.twa_stream(
        clip_features(src.clips_stream(spark, in_dir, max_files_per_trigger=1)),
        60, watermark_sec=5, grace_sec=10,
    )
    q = (
        res.writeStream.format("memory")
        .queryName("t_twa_dropped")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_twa_dropped").toPandas()
    assert len(got) == 0  # one surviving observation -> no segment at all


from helpers import MockGroupState as MockState


def test_out_of_order_row_cannot_corrupt_frontier():
    # an old row arriving after the frontier must be dropped, not spliced
    # in: splicing would both poison the segment value and overwrite the
    # carried last observation
    E = int(BASE.timestamp())
    fn = stwa.make_twa_fn(60, 10, False)
    st = MockState()

    def batch(specs, wm_s):
        st._wm = (E + wm_s) * 1000
        st.hasTimedOut = False
        pdf = pd.DataFrame(
            {
                "prefix": ["aw"] * len(specs),
                "ingest_ts": pd.to_datetime([(E + s) * 10**9 for s, _ in specs]),
                "energy": [v for _, v in specs],
            }
        )
        out = list(fn(("aw",), iter([pdf]), st))
        return pd.concat(out, ignore_index=True) if out else pd.DataFrame()

    batch([(0, 2.0), (100, 4.0)], wm_s=0)
    # old row (t=90, v=999) is behind the frontier (100) -> dropped; the
    # 100->160 segment must anchor at v=4.0
    batch([(90, 999.0), (160, 6.0)], wm_s=50)
    st.hasTimedOut = True
    st._wm = (E + 500) * 1000
    out = list(fn(("aw",), iter([]), st))
    got = pd.concat(out, ignore_index=True)
    got = got.set_index("event_time")
    t1 = pd.Timestamp(BASE) + pd.Timedelta(seconds=60)
    # bucket [60,120): [60,100) on the 2->4 line (3.2 -> 4.0, mean 3.6),
    # [100,120) on the 4->6 line (4.0 -> 4.6667, mean 4.3333)
    v = got.loc[t1, "value"]
    expected = ((3.2 + 4.0) / 2 * 40 + (4.0 + 4.0 + 2 * 20 / 60) / 2 * 20) / 60
    assert v == pytest.approx(expected, abs=1e-5)
    # with the old clamping behavior the segment would have anchored at 999
    assert v < 10


def test_overflow_flushes_oldest_final_buckets(monkeypatch):
    # state cap: oldest buckets wholly behind the frontier observation are
    # force-emitted (their mass is final) instead of silently dropped
    monkeypatch.setattr(stwa, "_MAX_OPEN", 2)
    E = int(BASE.timestamp())
    fn = stwa.make_twa_fn(60, 1000, False)  # big grace: nothing closes via wm
    st = MockState()
    pdf = pd.DataFrame(
        {
            "prefix": ["aw"] * 2,
            "ingest_ts": pd.to_datetime([(E + 0) * 10**9, (E + 250) * 10**9]),
            "energy": [2.0, 2.0],
        }
    )
    st._wm = 0
    out = list(fn(("aw",), iter([pdf]), st))
    got = pd.concat(out, ignore_index=True)
    # 5 buckets touched (0..240); cap=2 -> oldest finals flushed, constant
    # series so every flushed value is exactly 2.0 and mass is preserved
    assert len(got) >= 2
    assert (got["value"] == 2.0).all()
    flushed_sec = got["good_sec"].sum()
    kept = tuple(st.get)
    assert flushed_sec + sum(kept[4]) / 1e3 == 250.0  # no mass lost
    assert len(kept[2]) == 2  # state respects the cap
