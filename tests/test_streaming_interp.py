"""Streaming resample+interpolate tests: state-machine unit semantics via a
mock GroupState, and parity of emitted buckets with the batch interpolate
verb over the same clip series.
"""

from __future__ import annotations

import time
from datetime import datetime

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from core_spark import synth
from core_spark.operators import timeseries as tso
from core_spark.operators.timeseries import TSSpec
from core_spark.streaming import interp as sintp
from core_spark.streaming import source as src
from core_spark.streaming.windows import clip_features

BASE = datetime(2024, 3, 1)
E = int(BASE.timestamp())


from helpers import MockGroupState as MockState


def _batch(specs):
    return pd.DataFrame(
        {
            "prefix": ["aw"] * len(specs),
            "ingest_ts": pd.to_datetime([(E + s) * 10**9 for s, _ in specs]),
            "energy": [v for _, v in specs],
        }
    )


def _run(fn, st, rows_pdf=None, wm_s=None, timed_out=False):
    st.hasTimedOut = timed_out
    if wm_s is not None:
        st._wm = (E + wm_s) * 1000
    it = iter([rows_pdf]) if rows_pdf is not None else iter([])
    out = list(fn(("aw",), it, st))
    return pd.concat(out, ignore_index=True) if out else pd.DataFrame()


def test_interp_fn_linear_gap_fill():
    fn = sintp.make_interp_fn(60, "linear")
    st = MockState()
    # batch 1: obs in bucket 0 (values 2, 4 -> avg 3); wm still behind
    out = _run(fn, st, _batch([(0, 2.0), (30, 4.0)]), wm_s=0)
    assert out.empty
    # batch 2: obs in bucket 180 (value 9); wm=70 closes bucket 0 only
    out = _run(fn, st, _batch([(185, 9.0)]), wm_s=70)
    assert out["value"].tolist() == [3.0] and not out["filled"].iloc[0]
    # batch 3: wm=250 closes 180; empties 60,120 decided by interpolation
    out = _run(fn, st, None, wm_s=250, timed_out=True)
    got = dict(zip(out["event_time"], zip(out["value"], out["filled"])))
    t = lambda s: pd.Timestamp(BASE) + pd.Timedelta(seconds=s)
    assert got[t(60)] == (5.0, True)   # 3 + (9-3)*(60-0)/(180-0)
    assert got[t(120)] == (7.0, True)
    assert got[t(180)] == (9.0, False)
    assert len(out) == 3


def test_interp_fn_ffill_decides_without_next():
    fn = sintp.make_interp_fn(60, "ffill")
    st = MockState()
    _run(fn, st, _batch([(0, 2.0)]), wm_s=0)
    # wm far ahead: bucket 0 closes, empties 60..180 forward-fill NOW
    out = _run(fn, st, None, wm_s=250, timed_out=True)
    t = lambda s: pd.Timestamp(BASE) + pd.Timedelta(seconds=s)
    got = dict(zip(out["event_time"], out["value"]))
    assert got[t(0)] == 2.0
    assert got[t(60)] == 2.0 and got[t(120)] == 2.0 and got[t(180)] == 2.0


def test_interp_fn_no_duplicate_emissions():
    fn = sintp.make_interp_fn(60, "linear")
    st = MockState()
    frames = [
        _run(fn, st, _batch([(0, 1.0)]), wm_s=0),
        _run(fn, st, _batch([(200, 5.0)]), wm_s=100),
        _run(fn, st, _batch([(400, 7.0)]), wm_s=300),
        _run(fn, st, None, wm_s=600, timed_out=True),
    ]
    all_out = pd.concat([f for f in frames if not f.empty], ignore_index=True)
    assert not all_out.duplicated(subset=["event_time"]).any()
    # contiguous coverage from first bucket to last closed bucket
    secs = sorted(ts.timestamp() - E for ts in all_out["event_time"])
    assert secs == list(range(0, int(secs[-1]) + 1, 60))


@pytest.fixture(scope="module")
def ordered_clips(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("interp_clips"))
    pdf = synth.make_clips_pdf(
        1200, step_ms=2000, disorder_ms=0, late_every=10**6, gap_every=10**6
    )
    for k in range(3):
        spark.createDataFrame(
            pdf.iloc[k * 400 : (k + 1) * 400], schema=synth.CLIPS_SCHEMA
        ).coalesce(1).write.mode("append").parquet(d)
        time.sleep(1.1)
    return d


def test_stream_matches_batch_interpolate_verb(spark, ordered_clips):
    res = sintp.interp_stream(
        clip_features(src.clips_stream(spark, ordered_clips, max_files_per_trigger=1)),
        60, watermark_sec=10, method="linear",
    )
    q = (
        res.writeStream.format("memory")
        .queryName("t_interp_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_interp_stream").toPandas()
    assert len(got) > 10
    assert not got.duplicated(subset=["prefix", "event_time"]).any()

    feats = clip_features(src.clips_batch(spark, ordered_clips)).select(
        "prefix", "ingest_ts", "energy"
    )
    spec = TSSpec(tag_col="prefix", ts_col="ingest_ts", value_col="energy",
                  status_col=None)
    ref = (
        tso.interpolate(feats, spec, 60, "2024-03-01 00:00:00",
                        "2024-03-03 00:00:00", method="linear")
        .toPandas()
    )
    ref_map = {
        (r["tagname"], r["event_time"]): r["value"] for _, r in ref.iterrows()
    }
    for _, r in got.iterrows():
        k = (r["prefix"], r["event_time"])
        assert k in ref_map
        # bucket averages are float sums: partial-sum order differs between
        # the streaming accumulator and the batch shuffle -> 1e-6 tolerance
        # (every other term is expression-identical)
        assert r["value"] == pytest.approx(ref_map[k], abs=1.5e-6), k
    # some gap buckets must actually have been filled
    assert got["filled"].any()


def test_linear_backfill_capped(monkeypatch):
    # a pathological gap backfills at most _MAX_FILL buckets (newest first);
    # older gap buckets are skipped, state stays O(1)
    monkeypatch.setattr(sintp, "_MAX_FILL", 3)
    fn = sintp.make_interp_fn(60, "linear")
    st = MockState()
    _run(fn, st, _batch([(0, 2.0)]), wm_s=70)
    out = _run(fn, st, _batch([(1000, 4.0)]), wm_s=1100)
    t = lambda s: pd.Timestamp(BASE) + pd.Timedelta(seconds=s)
    filled = out[out["filled"]]
    # gap buckets 60..900 (15): only the newest 3 (780, 840, 900) fill
    assert list(filled["event_time"]) == [t(780), t(840), t(900)]
    assert (out[~out["filled"]]["event_time"] == t(960)).any()


def test_ffill_drains_progressively(monkeypatch):
    monkeypatch.setattr(sintp, "_MAX_FILL", 2)
    fn = sintp.make_interp_fn(60, "ffill")
    st = MockState()
    _run(fn, st, _batch([(0, 2.0)]), wm_s=70)   # closes bucket 0
    out1 = _run(fn, st, None, wm_s=400, timed_out=True)  # drains 2 fills
    out2 = _run(fn, st, None, wm_s=400, timed_out=True)  # next 2
    t = lambda s: pd.Timestamp(BASE) + pd.Timedelta(seconds=s)
    assert list(out1.loc[out1["filled"], "event_time"]) == [t(60), t(120)]
    assert list(out2["event_time"]) == [t(180), t(240)]
    assert st.timeout is not None  # drain resumes via timer
