"""Streaming engine tests: stream/batch parity, salted agg equivalence,
stream-stream join tolerance, stateful sessionization, exactly-once sink,
checkpoint resume. Pattern per SURVEY §5: deterministic synthetic input,
Trigger.availableNow, expected-DataFrame compares.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from core_spark import synth
from core_spark.streaming import join as sj
from core_spark.streaming import sessions as ss
from core_spark.streaming import sink as sk
from core_spark.streaming import source as src
from core_spark.streaming import windows as sw

N = 3000


@pytest.fixture(scope="module")
def clips_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("clips"))
    synth.write_clips_parquet(spark, d, N, n_files=4)
    return d


def _run_to_memory(result, name, mode="complete"):
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return result.sparkSession.table(name)


def _sorted_pdf(df, keys):
    return df.orderBy(*keys).toPandas().reset_index(drop=True)


def test_tumbling_stream_matches_batch(spark, clips_dir):
    stream = src.clips_stream(spark, clips_dir)
    batch = src.clips_batch(spark, clips_dir)
    got = _run_to_memory(sw.tumbling_energy(stream, 60), "t_tumble")
    want = sw.tumbling_energy(batch, 60)
    keys = ["window_start", "prefix"]
    g, w = _sorted_pdf(got, keys), _sorted_pdf(want, keys)
    assert len(g) == len(w) and len(g) > 0
    for col in ["n_clips", "sum_dur_ms"]:
        assert (g[col] == w[col]).all(), col
    assert (g["avg_energy"] - w["avg_energy"]).abs().max() < 1e-9


def test_salted_matches_unsalted(spark, clips_dir):
    batch = src.clips_batch(spark, clips_dir)
    plain = sw.tumbling_energy(batch, 60)
    salted = sw.tumbling_energy(batch, 60, salt_buckets=8)
    keys = ["window_start", "prefix"]
    g, w = _sorted_pdf(salted, keys), _sorted_pdf(plain, keys)
    assert len(g) == len(w)
    assert (g["n_clips"] == w["n_clips"]).all()
    assert (g["avg_energy"] - w["avg_energy"]).abs().max() < 1e-9
    # approx_count_distinct is summed over salts => only approximately equal
    assert (g["n_distinct_clips"] - w["n_distinct_clips"]).abs().max() <= (
        0.1 * w["n_distinct_clips"].max()
    )


def test_sliding_windows(spark, clips_dir):
    batch = src.clips_batch(spark, clips_dir)
    slid = sw.tumbling_energy(batch, 60, slide_sec=20)
    plain = sw.tumbling_energy(batch, 60)
    # every event lands in exactly 3 sliding windows
    assert slid.agg(F.sum("n_clips")).first()[0] == 3 * plain.agg(F.sum("n_clips")).first()[0]


def test_salted_matches_unsalted_sliding(spark, clips_dir):
    # regression: salted stage 2 once re-windowed window_time() at the FULL
    # window width, which merged the 3 overlapping sliding windows per slide
    # into one row (n_clips ~3x, wrong bounds)
    batch = src.clips_batch(spark, clips_dir)
    plain = sw.tumbling_energy(batch, 60, slide_sec=20)
    salted = sw.tumbling_energy(batch, 60, slide_sec=20, salt_buckets=8)
    keys = ["window_start", "prefix"]
    g, w = _sorted_pdf(salted, keys), _sorted_pdf(plain, keys)
    assert len(g) == len(w) and len(g) > 0
    assert (g["window_start"] == w["window_start"]).all()
    assert (g["window_end"] == w["window_end"]).all()
    assert (g["n_clips"] == w["n_clips"]).all()
    assert (g["avg_energy"] - w["avg_energy"]).abs().max() < 1e-9


@pytest.mark.parametrize("slide_sec", [None, 20], ids=["tumbling", "sliding"])
def test_salted_stream_matches_batch(spark, clips_dir, slide_sec):
    # the chained two-stage salted aggregation (the streaming job's --salt
    # path) run as a real stream, with Spark's stateful-operator correctness
    # check on: append mode emits a window once the watermark passes its
    # end, and every emitted row must equal the batch result's row
    stream = src.clips_stream(spark, clips_dir)
    name = f"t_salted_{slide_sec}"
    q = (
        sw.tumbling_energy(stream, 60, slide_sec=slide_sec, salt_buckets=8)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wm = q.lastProgress["eventTime"]["watermark"]
    keys = ["window_start", "prefix"]
    want = sw.tumbling_energy(
        src.clips_batch(spark, clips_dir), 60, slide_sec=slide_sec, salt_buckets=8
    )
    closed = want.filter(F.col("window_end") <= F.to_timestamp(F.lit(wm)))
    g, w = _sorted_pdf(spark.table(name), keys), _sorted_pdf(closed, keys)
    # only the windows still open at the end of the input stay unemitted
    assert len(g) == len(w) and len(g) >= 0.9 * want.count()
    for col in ["window_start", "window_end", "prefix", "n_clips", "sum_dur_ms",
                "max_energy", "n_distinct_clips"]:
        assert (g[col] == w[col]).all(), col
    assert (g["avg_energy"] - w["avg_energy"]).abs().max() < 1e-9


def test_stream_join_tolerance(spark, clips_dir, tmp_path):
    pdf = synth.make_clips_pdf(N)
    corr_pdf = synth.make_corrections_pdf(pdf)
    corr_dir = str(tmp_path / "corr")
    spark.createDataFrame(corr_pdf, schema=synth.CORRECTIONS_SCHEMA).write.parquet(corr_dir)

    clips_s = src.clips_stream(spark, clips_dir)
    corr_s = src.corrections_stream(spark, corr_dir)
    out = _run_to_memory(
        sj.corrected_transcripts(clips_s, corr_s, tolerance_sec=60),
        "t_join",
        mode="append",
    )
    got = out.toPandas()
    # each clip at most once; rows whose join window the final watermark
    # never closes stay in state (correct streaming semantics) — tail only
    assert got["clip_id"].is_unique
    assert N - 20 <= len(got) <= N
    emitted = set(got["clip_id"])
    # ground truth: corrections within 60s of ingest
    lag_ms = (corr_pdf["correction_ts"] - pdf.set_index("clip_id").loc[
        corr_pdf["clip_id"], "ingest_ts"
    ].reset_index(drop=True)).dt.total_seconds() * 1000
    expect_matched = set(corr_pdf.loc[lag_ms <= 60_000, "clip_id"])
    got_matched = set(got.loc[got["corrected"], "clip_id"])
    assert got_matched == expect_matched & emitted
    # matched rows carry the corrected transcript, others the original
    m = got[got["corrected"]]
    assert (m["final_transcript"] == m["transcript"] + "-corr").all()
    # drop metric agrees
    met = sj.late_corrections_metrics(
        src.clips_batch(spark, clips_dir),
        spark.read.parquet(corr_dir),
        tolerance_sec=60,
    ).first()
    assert met["n_corrections"] == len(corr_pdf)
    assert met["n_dropped_late"] == len(corr_pdf) - len(expect_matched)


def test_sessionize_gap_detection(spark):
    # one prefix, 11 clips 1s apart, then a 10-minute gap, then 5 more:
    # the first session must be emitted with exact stats
    import pandas as pd
    from datetime import datetime, timedelta

    base = datetime(2024, 3, 1)
    rows = []
    for i in range(11):
        rows.append(("aw-%08d" % i, base + timedelta(seconds=i)))
    for i in range(5):
        rows.append(("aw-%08d" % (100 + i), base + timedelta(seconds=600 + i)))
    pdf = synth.make_clips_pdf(len(rows))
    pdf["clip_id"] = [r[0] for r in rows]
    pdf["ingest_ts"] = [r[1] for r in rows]
    df = spark.createDataFrame(pdf, schema=synth.CLIPS_SCHEMA)

    out = ss.sessionize(df, gap_sec=300, watermark_sec=1).toPandas()
    # batch mode: complete input => both sessions emitted
    out = out.sort_values("session_start").reset_index(drop=True)
    assert len(out) == 2
    s = out.iloc[0]
    assert s["prefix"] == "aw"
    assert s["n_clips"] == 11
    assert s["session_start"] == base
    assert s["session_end"] == base + timedelta(seconds=10)
    assert s["max_gap_sec"] == 1.0
    assert s["avg_energy"] > 0
    assert s["interp_energy_mean"] > 0
    assert out.iloc[1]["n_clips"] == 5
    assert out.iloc[1]["session_start"] == base + timedelta(seconds=600)

    # streaming path: same input via a file stream; the gap-split closes the
    # first session inline even though the watermark never advances
    import tempfile, os
    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "in"))
    from core_spark.streaming import source as src2
    stream = src2.clips_stream(spark, os.path.join(d, "in"))
    got = _run_to_memory(
        ss.sessionize(stream, gap_sec=300, watermark_sec=1), "t_sess", mode="append"
    ).toPandas()
    assert len(got) == 1
    g = got.iloc[0]
    assert g["n_clips"] == 11 and g["max_gap_sec"] == 1.0


def test_sessionize_state_spans_micro_batches(spark, tmp_path):
    # a session that STARTS in micro-batch 1 and CONTINUES in micro-batch 2
    # must be emitted once, merged — proves applyInPandasWithState state
    # survives across batches (file = micro-batch with maxFilesPerTrigger=1)
    import time as _time
    from datetime import datetime, timedelta

    base = datetime(2024, 3, 1)
    in_dir = str(tmp_path / "in")

    def write_file(specs):
        pdf = synth.make_clips_pdf(len(specs))
        pdf["clip_id"] = [c for c, _ in specs]
        pdf["ingest_ts"] = [t for _, t in specs]
        spark.createDataFrame(pdf, schema=synth.CLIPS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    # batch 1: clips at t=0..10s (open session)
    write_file([("aw-%08d" % i, base + timedelta(seconds=i)) for i in range(11)])
    _time.sleep(1.1)  # distinct mtimes => deterministic file order
    # batch 2: t=15..20s (same session, gap 5s < 300) then t=1000s (gap
    # closes the merged session inline)
    write_file(
        [("aw-%08d" % (50 + i), base + timedelta(seconds=15 + i)) for i in range(6)]
        + [("aw-%08d" % 99, base + timedelta(seconds=1000))]
    )

    stream = src.clips_stream(spark, in_dir, max_files_per_trigger=1)
    got = _run_to_memory(
        ss.sessionize(stream, gap_sec=300, watermark_sec=1), "t_sess_span", mode="append"
    ).toPandas()
    assert len(got) == 1
    g = got.iloc[0]
    assert g["n_clips"] == 17  # 11 from batch 1 + 6 from batch 2, merged
    assert g["session_start"] == base
    assert g["session_end"] == base + timedelta(seconds=20)
    assert g["max_gap_sec"] == 5.0  # the cross-batch 10s->15s hop


def test_sessionize_native_agrees(spark, clips_dir):
    batch = src.clips_batch(spark, clips_dir)
    native = sw.session_windows_native(batch, gap_sec=300).toPandas()
    # session count and clip totals are plausible and cover all clips
    assert native["n_clips"].sum() == N


def test_dedup_within_watermark_stream(spark, clips_dir, tmp_path):
    # redelivered stream: every clip re-sent once with a +5s jittered
    # ingest_ts (at-least-once transport replay) — exactly one row per
    # clip_id must survive the streaming dedup
    batch = src.clips_batch(spark, clips_dir)
    dup = batch.withColumn(
        "ingest_ts", F.col("ingest_ts") + F.expr("INTERVAL 5 SECONDS")
    )
    dup_dir = str(tmp_path / "redelivered")
    batch.unionByName(dup).repartition(4).write.parquet(dup_dir)

    stream = src.clips_stream(spark, dup_dir)
    got = _run_to_memory(
        sw.dedup_within_watermark(stream, ["clip_id"], watermark_sec=30),
        "t_dedup",
        mode="append",
    )
    assert got.count() == N
    assert got.select("clip_id").distinct().count() == N
    # batch degradation = exact dropDuplicates on the same keys
    assert sw.dedup_within_watermark(batch.unionByName(dup)).count() == N


def test_sink_exactly_once_and_merge(spark, tmp_path):
    d = str(tmp_path / "table")
    sink = sk.MergeSink(d, key_cols=["k", "p"], partition_expr="p")
    df1 = spark.createDataFrame([(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)], "k int, p string, v double")
    sink.write_batch(df1, 0)
    assert sink.read(spark).count() == 3
    # replay of the same batch id is a no-op
    sink.write_batch(df1, 0)
    assert sink.read(spark).count() == 3
    # upsert: same key new value + new key; untouched partition intact
    df2 = spark.createDataFrame([(2, "a", 99.0), (4, "c", 40.0)], "k int, p string, v double")
    sink.write_batch(df2, 1)
    got = {(r["k"], r["p"]): r["v"] for r in sink.read(spark).collect()}
    assert got == {(1, "a"): 10.0, (2, "a"): 99.0, (3, "b"): 30.0, (4, "c"): 40.0}
    lin = sink.lineage()
    assert len(lin) == 3 and lin[1]["skipped_replay"]


def test_checkpoint_resume_no_dups(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")
    # no late stragglers / gap jumps: every row is within the watermark, so
    # the full-input batch recompute is an exact oracle (late-row drop
    # semantics are asserted separately in test_stream_join_tolerance)
    pdf = synth.make_clips_pdf(2000, late_every=10**6, gap_every=10**6)

    def write_slices(lo, hi, k):
        # sequential time-slice files: each micro-batch advances event time
        # the way ordered ingest commits would
        step = (hi - lo) // k
        for s in range(k):
            a, b = lo + s * step, (lo + (s + 1) * step if s < k - 1 else hi)
            spark.createDataFrame(
                pdf.iloc[a:b], schema=synth.CLIPS_SCHEMA
            ).coalesce(1).write.mode("append").parquet(in_dir)

    write_slices(0, 1000, 4)

    sink = sk.MergeSink(out_dir, key_cols=["window_start", "prefix"])

    def run():
        stream = src.clips_stream(spark, in_dir, max_files_per_trigger=1)
        q = sk.run_to_sink(sw.tumbling_energy(stream, 60), sink, ck)
        q.awaitTermination()

    run()
    write_slices(1000, 2000, 4)
    run()  # resume from checkpoint: only new files processed

    got = sink.read(spark)
    keys = got.select("window_start", "prefix")
    assert keys.count() == keys.distinct().count()  # no duplicate windows
    # every emitted window matches the full-input batch recompute exactly
    # (proves aggregation state survived the restart — no partial windows)
    full = sw.tumbling_energy(src.clips_batch(spark, in_dir), 60)
    j = got.alias("g").join(
        full.alias("f"), ["window_start", "prefix"], "inner"
    )
    assert j.count() == got.count()
    bad = j.filter(
        (F.col("g.n_clips") != F.col("f.n_clips"))
        | (F.abs(F.col("g.avg_energy") - F.col("f.avg_energy")) > 1e-9)
    )
    assert bad.count() == 0
    assert got.count() > 0


def test_sink_read_after_zero_row_run(spark, tmp_path):
    # regression: a run whose every micro-batch merges 0 rows (watermark
    # never closed a window) used to crash read() with a missing
    # _schema.json — the schema must be recorded from the batch shape even
    # when nothing is written
    d = str(tmp_path / "empty_sink")
    sink = sk.MergeSink(d, key_cols=["k", "p"], partition_expr="p")
    empty = spark.createDataFrame([], "k string, p string, v double")
    sink.write_batch(empty, 0)
    out = sink.read(spark)
    assert out.count() == 0
    # table shape = batch cols + partition col + batch id, like a real merge
    assert set(out.columns) == {"k", "p", "v", "p_date", "_batch_id"}


def test_late_metrics_counts_all_unmatchable(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    clips = spark.createDataFrame(
        [("a", t0), ("b", t0)], "clip_id string, ingest_ts timestamp"
    )
    corr = spark.createDataFrame(
        [
            ("a", t0 + dt.timedelta(seconds=10), "x"),   # matches
            ("a", t0 + dt.timedelta(seconds=120), "x"),  # late (>60s)
            ("b", t0 - dt.timedelta(seconds=5), "x"),    # retrograde
            ("ghost", t0, "x"),                          # orphaned clip_id
        ],
        "clip_id string, correction_ts timestamp, corrected_transcript string",
    )
    m = sj.late_corrections_metrics(clips, corr, tolerance_sec=60).first()
    assert m["n_corrections"] == 4
    assert m["n_dropped_late"] == 1
    assert m["n_retrograde"] == 1
    assert m["n_orphaned"] == 1
    assert m["n_dropped_total"] == 3


def test_ohlc_windows_stream_matches_batch(spark, clips_dir):
    stream = src.clips_stream(spark, clips_dir)
    got = _sorted_pdf(
        _run_to_memory(sw.ohlc_windows(stream, 60), "t_ohlc_win"),
        ["window_start", "prefix"],
    )
    ref = _sorted_pdf(
        sw.ohlc_windows(src.clips_batch(spark, clips_dir), 60),
        ["window_start", "prefix"],
    )
    assert got.equals(ref)
    # invariant: low <= open/close <= high
    assert (got["low"] <= got["high"]).all()
    assert ((got["open"] >= got["low"]) & (got["open"] <= got["high"])).all()
    assert ((got["close"] >= got["low"]) & (got["close"] <= got["high"])).all()


def test_circular_avg_windows_wraps(spark):
    # wrap-around: energies ~0.97 and ~0.03 (lo=0, hi=1) average to ~0.0
    # (the wrap boundary), NOT the arithmetic midpoint 0.5. Constant-valued
    # PCM gives exact energies: energy(const c) = c^2.
    import numpy as np

    from core_spark.functions.audio import pcm16_encode

    pdf = synth.make_clips_pdf(2)
    pdf["clip_id"] = ["aw-00000001", "aw-00000002"]
    pdf["ingest_ts"] = [synth.BASE_TS] * 2
    pdf["codec"] = ["pcm16", "pcm16"]
    pdf["bytes"] = [
        pcm16_encode(np.full(8000, np.sqrt(0.97))),
        pcm16_encode(np.full(8000, np.sqrt(0.03))),
    ]
    df = spark.createDataFrame(pdf, schema=synth.CLIPS_SCHEMA)
    got = sw.circular_avg_windows(df, 60).toPandas()
    assert len(got) == 1
    v = got.iloc[0]["circ_avg"]
    assert v < 0.01 or v > 0.99  # at the wrap, far from 0.5
    # two unit vectors 0.06 turns apart: R = cos(half the separation angle)
    assert got.iloc[0]["r_len"] == pytest.approx(float(np.cos(0.06 * np.pi)), abs=0.01)


def test_circular_avg_windows_stream_matches_batch(spark, clips_dir):
    stream = src.clips_stream(spark, clips_dir)
    got = _sorted_pdf(
        _run_to_memory(sw.circular_avg_windows(stream, 60), "t_circ_win"),
        ["window_start", "prefix"],
    )
    ref = _sorted_pdf(
        sw.circular_avg_windows(src.clips_batch(spark, clips_dir), 60),
        ["window_start", "prefix"],
    )
    assert len(got) == len(ref)
    import numpy as np

    for c in ["circ_avg", "r_len"]:
        assert np.allclose(got[c], ref[c], atol=1e-9)


def test_summary_windows_stream_matches_batch(spark, clips_dir):
    stream = src.clips_stream(spark, clips_dir)
    got = _sorted_pdf(
        _run_to_memory(sw.summary_windows(stream, 60), "t_summary_win"),
        ["window_start", "prefix"],
    )
    ref = _sorted_pdf(
        sw.summary_windows(src.clips_batch(spark, clips_dir), 60),
        ["window_start", "prefix"],
    )
    import numpy as np

    assert len(got) == len(ref) and len(got) > 0
    for c in ["n_clips", "avg_energy", "min_energy", "max_energy",
              "stddev_energy", "sum_energy", "var_energy"]:
        a = got[c].to_numpy(dtype=float)
        b = ref[c].to_numpy(dtype=float)
        mask = ~(np.isnan(a) & np.isnan(b))
        assert np.allclose(a[mask], b[mask], atol=1e-9), c
    # variance == stddev^2 where defined
    s, v = got["stddev_energy"].to_numpy(float), got["var_energy"].to_numpy(float)
    m = ~np.isnan(s)
    assert np.allclose(s[m] ** 2, v[m], rtol=1e-9)


def test_enrich_with_codec_dim(spark, clips_dir):
    # stream-static broadcast join: every clip row gains its codec params
    stream = src.clips_stream(spark, clips_dir)
    out = sw.enrich_with_codec_dim(stream).select(
        "clip_id", "codec", "bits_per_sample", "compression_ratio"
    )
    got = _run_to_memory(out, "t_codec_dim", mode="append").toPandas()
    assert len(got) == N
    assert (got.loc[got["codec"] == "pcm16", "bits_per_sample"] == 16).all()
    assert (got.loc[got["codec"] == "ulaw", "bits_per_sample"] == 8).all()
    assert not got["bits_per_sample"].isna().any()
    # batch plan shape: the dimension must broadcast, never sort-merge
    import io
    from contextlib import redirect_stdout

    batch = sw.enrich_with_codec_dim(src.clips_batch(spark, clips_dir))
    buf = io.StringIO()
    with redirect_stdout(buf):
        batch.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_percentile_windows_stream_exact(spark, tmp_path):
    """Exact streaming windowed percentiles: watermark-closed buckets equal
    the batch type-7 computation bit-for-bit; open buckets stay unemitted."""
    import numpy as np
    import pandas as pd

    d = str(tmp_path / "pctl_events")
    rng = np.random.default_rng(7)
    rows = []
    for m in range(12):  # 12 minutes of data, 2 tags, 60 s buckets
        for tag in ("a", "b"):
            for j in range(9):
                rows.append(
                    (tag, pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=m * 60 + j * 6),
                     float(np.round(rng.normal(10, 3), 3)))
                )
    pdf = pd.DataFrame(rows, columns=["tag", "ts", "v"]).sort_values("ts")
    # two time-ordered files => the watermark advances across micro-batches
    half = len(pdf) // 2
    import time as _t
    for part in (pdf.iloc[:half], pdf.iloc[half:]):
        spark.createDataFrame(part).coalesce(1).write.mode("append").parquet(d)
        _t.sleep(1.1)

    stream = (
        spark.readStream.schema("tag string, ts timestamp, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    res = sw.percentile_windows(stream, "tag", "ts", "v", 60,
                                ps=(0.5, 0.95), watermark_sec=10)
    got = _run_to_memory(res, "t_pctl_win", mode="append").toPandas()
    assert len(got) > 0

    # expectation: exact type-7 per (tag, bucket), only closed buckets
    wm = pdf["ts"].max() - pd.Timedelta(seconds=10)
    pdf["bucket"] = pdf["ts"].dt.floor("60s")
    exp = {}
    for (tag, b), g in pdf.groupby(["tag", "bucket"]):
        if pd.Timestamp(b) + pd.Timedelta(seconds=60) <= wm:
            v = np.sort(g["v"].to_numpy())
            n = len(v)
            row = {}
            for p, lab in ((0.5, "p50"), (0.95, "p95")):
                pos = (n - 1) * p
                k = int(pos)
                lo, hi = v[k], v[min(k + 1, n - 1)]
                row[lab] = lo + (hi - lo) * (pos - k)
            row["cnt"] = n
            exp[(tag, pd.Timestamp(b))] = row
    got_k = {(r["tagname"], pd.Timestamp(r["event_time"])): r
             for _, r in got.iterrows()}
    assert set(got_k) == set(exp)
    for key, e in exp.items():
        g = got_k[key]
        assert g["cnt"] == e["cnt"]
        assert g["p50"] == e["p50"] and g["p95"] == e["p95"], key


def test_topk_windows_stream_matches_batch_ranking(spark, tmp_path):
    """O(k)-state streaming top-k equals the batch row_number ranking on
    watermark-closed buckets, including the value-DESC/ts-ASC tiebreak."""
    import numpy as np
    import pandas as pd

    d = str(tmp_path / "topk_events")
    rng = np.random.default_rng(11)
    rows = []
    for m in range(10):
        for tag in ("x", "y"):
            for j in range(8):
                rows.append(
                    (tag, pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=m * 60 + j * 7),
                     float(rng.integers(0, 5)))  # coarse values force ties
                )
    pdf = pd.DataFrame(rows, columns=["tag", "ts", "v"]).sort_values("ts")
    import time as _t
    half = len(pdf) // 2
    for part in (pdf.iloc[:half], pdf.iloc[half:]):
        spark.createDataFrame(part).coalesce(1).write.mode("append").parquet(d)
        _t.sleep(1.1)

    stream = (
        spark.readStream.schema("tag string, ts timestamp, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    res = sw.topk_windows(stream, "tag", "ts", "v", 60, k=3, watermark_sec=10)
    got = _run_to_memory(res, "t_topk_win", mode="append").toPandas()
    assert len(got) > 0

    wm = pdf["ts"].max() - pd.Timedelta(seconds=10)
    pdf["bucket"] = pdf["ts"].dt.floor("60s")
    exp_rows = []
    for (tag, b), g in pdf.groupby(["tag", "bucket"]):
        if pd.Timestamp(b) + pd.Timedelta(seconds=60) <= wm:
            top = g.sort_values(["v", "ts"], ascending=[False, True]).head(3)
            for r, (_, row) in enumerate(top.iterrows()):
                exp_rows.append((tag, pd.Timestamp(b), r + 1, row["ts"], row["v"]))
    exp = pd.DataFrame(
        exp_rows, columns=["tagname", "bucket", "rank", "event_time", "value"]
    ).sort_values(["tagname", "bucket", "rank"]).reset_index(drop=True)
    g2 = got.sort_values(["tagname", "bucket", "rank"]).reset_index(drop=True)[exp.columns]
    pd.testing.assert_frame_equal(g2, exp, check_dtype=False)


def test_job_shuffle_partitions_default_to_cores(monkeypatch):
    # the job's state-store count follows --cores unless given: capture the
    # session request and stop there, so the shared session is left alone
    import core_spark.session as session
    from core_spark.streaming import job

    calls = []

    class _Stop(Exception):
        pass

    def fake_get_spark(*args, **kwargs):
        calls.append(kwargs)
        raise _Stop

    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    for argv, want in ((["--cores", "3"], 3), (["--cores", "3", "--shuffle-partitions", "5"], 5)):
        with pytest.raises(_Stop):
            job.main(argv)
        assert calls[-1]["cores"] == 3
        assert calls[-1]["shuffle_partitions"] == want
