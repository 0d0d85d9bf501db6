"""CEP pattern-operator tests: batch semantics, batch/stream parity,
absence (timeout) rows across micro-batches and a RocksDB state store run.
"""

from __future__ import annotations

import time
from datetime import datetime, timedelta

import pandas as pd
import pytest
from pyspark.sql import functions as F

from core_spark import synth
from core_spark.operators import cep
from core_spark.streaming import cep as scep
from core_spark.streaming import source as src

BASE = datetime(2024, 3, 1)


def _events(spark, rows):
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_type", "value"])
    return spark.createDataFrame(pdf)


SPEC = cep.CepSpec(key_col="user_id", ts_col="ts")


def t(sec):
    return BASE + timedelta(seconds=sec)


def test_followed_by_semantics(spark):
    df = _events(
        spark,
        [
            # u1: A at 0 -> earliest B at 30 (not the one at 50)
            (1, t(0), "a", 1.0),
            (1, t(30), "b", 2.0),
            (1, t(50), "b", 3.0),
            # u1: second A at 40 -> B at 50
            (1, t(40), "a", 4.0),
            # u2: B at same ts as A must NOT match (strictly after); the
            # B at 100 is outside the 60s horizon -> unmatched
            (2, t(10), "a", 5.0),
            (2, t(10), "b", 6.0),
            (2, t(100), "b", 7.0),
            # u3: duplicate Bs at one ts collapse; payload = min value
            (3, t(0), "a", 8.0),
            (3, t(5), "b", 9.5),
            (3, t(5), "b", 9.0),
        ],
    )
    got = (
        cep.followed_by(df, SPEC, "event_type = 'a'", "event_type = 'b'", 60,
                        value_col="value")
        .orderBy("user_id", "a_ts")
        .toPandas()
    )
    assert len(got) == 4
    r = got.iloc[0]
    assert (r["b_ts"], r["lag_sec"], r["b_value"], r["matched"]) == (t(30), 30, 2.0, True)
    assert got.iloc[1]["b_ts"] == t(50) and got.iloc[1]["b_value"] == 3.0
    u2 = got.iloc[2]
    assert not u2["matched"] and pd.isna(u2["b_ts"]) and pd.isna(u2["b_value"])
    u3 = got.iloc[3]
    assert u3["b_ts"] == t(5) and u3["b_value"] == 9.0


def test_followed_by_matched_only(spark):
    df = _events(spark, [(1, t(0), "a", 1.0), (2, t(0), "a", 1.0), (1, t(9), "b", 2.0)])
    got = cep.followed_by(df, SPEC, "event_type = 'a'", "event_type = 'b'", 60,
                          matched_only=True).toPandas()
    assert len(got) == 1 and got.iloc[0]["user_id"] == 1


def test_match_contiguous_semantics(spark):
    df = _events(
        spark,
        [
            # u1: a b c contiguous -> one match; the second c has an
            # intervening x so no chain ends there
            (1, t(0), "a", 0.0),
            (1, t(10), "b", 0.0),
            (1, t(20), "c", 0.0),
            (1, t(30), "x", 0.0),
            (1, t(40), "c", 0.0),
            # u2: chain spans 2h -> rejected by within_sec
            (2, t(0), "a", 0.0),
            (2, t(10), "b", 0.0),
            (2, t(7200), "c", 0.0),
        ],
    )
    preds = ["event_type = 'a'", "event_type = 'b'", "event_type = 'c'"]
    got = cep.match_contiguous(df, SPEC, preds, within_sec=3600).toPandas()
    assert len(got) == 1
    assert got.iloc[0]["user_id"] == 1
    assert got.iloc[0]["start_ts"] == t(0) and got.iloc[0]["end_ts"] == t(20)
    assert got.iloc[0]["span_sec"] == 20
    # without the time bound, u2's chain appears too
    got2 = cep.match_contiguous(df, SPEC, preds).toPandas()
    assert len(got2) == 2


def test_match_contiguous_overlapping_chains(spark):
    # a a a with preds [a, a] -> rows 2 and 3 both end chains
    df = _events(spark, [(1, t(0), "a", 0.0), (1, t(1), "a", 0.0), (1, t(2), "a", 0.0)])
    got = cep.match_contiguous(df, SPEC, ["event_type = 'a'"] * 2).toPandas()
    assert len(got) == 2


@pytest.fixture(scope="module")
def cep_dirs(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("cep")
    clips_dir, corr_dir = str(d / "clips"), str(d / "corr")
    n = 1200
    synth.write_clips_parquet(spark, clips_dir, n, n_files=3)
    corr = synth.make_corrections_pdf_range(0, n)
    spark.createDataFrame(corr, schema=synth.CORRECTIONS_SCHEMA).coalesce(
        2
    ).write.parquet(corr_dir)
    return clips_dir, corr_dir


def _run_funnel(spark, clips_dir, corr_dir, name, within_sec=60):
    res = scep.funnel_stream(
        src.clips_stream(spark, clips_dir),
        src.corrections_stream(spark, corr_dir),
        within_sec=within_sec,
        watermark_sec=5,
    )
    q = (
        res.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).toPandas()


def test_funnel_stream_matches_batch(spark, cep_dirs):
    clips_dir, corr_dir = cep_dirs
    got = _run_funnel(spark, clips_dir, corr_dir, "t_cep_funnel")
    batch = scep.funnel_stream(
        src.clips_batch(spark, clips_dir),
        spark.read.schema(synth.CORRECTIONS_SCHEMA).parquet(corr_dir),
        within_sec=60,
    ).toPandas()

    key = ["clip_id", "a_ts", "b_ts"]
    sm = got[got["matched"]].sort_values(key).reset_index(drop=True)
    bm = batch[batch["matched"]].sort_values(key).reset_index(drop=True)
    # matched pairs are identical stream vs batch
    pd.testing.assert_frame_equal(sm[key + ["lag_sec"]], bm[key + ["lag_sec"]])
    assert len(sm) > 0
    # streaming absence rows are a subset of the batch's unmatched A rows
    # (tail-of-stream horizons never close under availableNow)
    su = set(zip(got.loc[~got["matched"], "clip_id"], got.loc[~got["matched"], "a_ts"]))
    bu = set(zip(batch.loc[~batch["matched"], "clip_id"], batch.loc[~batch["matched"], "a_ts"]))
    assert su <= bu
    # no duplicate emissions per (clip, a_ts)
    assert not got.duplicated(subset=["clip_id", "a_ts"]).any()


def test_funnel_absence_rows_emitted_on_watermark(spark, tmp_path):
    in_dir = str(tmp_path / "clips")
    corr_dir = str(tmp_path / "corr")

    def write_clips(specs):
        pdf = synth.make_clips_pdf(len(specs))
        pdf["clip_id"] = [c for c, _ in specs]
        pdf["ingest_ts"] = [ts for _, ts in specs]
        spark.createDataFrame(pdf, schema=synth.CLIPS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    # batch 1: two clips at t=0; only one gets a correction (at t=10)
    write_clips([("aw-00000001", t(0)), ("ax-00000002", t(0))])
    time.sleep(1.1)
    # batch 2: a far-future clip pushes the watermark past 0+within
    write_clips([("ay-00000099", t(10_000))])
    corr = pd.DataFrame(
        {
            "clip_id": ["aw-00000001"],
            "corrected_transcript": ["fix"],
            "correction_ts": [t(10)],
        }
    )
    spark.createDataFrame(corr, schema=synth.CORRECTIONS_SCHEMA).write.parquet(corr_dir)

    res = scep.funnel_stream(
        src.clips_stream(spark, in_dir, max_files_per_trigger=1),
        src.corrections_stream(spark, corr_dir),
        within_sec=60,
        watermark_sec=5,
    )
    q = (
        res.writeStream.format("memory")
        .queryName("t_cep_absence")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_cep_absence").toPandas()
    m = got[got["matched"]]
    u = got[~got["matched"]]
    assert list(m["clip_id"]) == ["aw-00000001"] and m.iloc[0]["lag_sec"] == 10
    # the uncorrected clip's horizon closed when the watermark jumped -> alert
    assert "ax-00000002" in set(u["clip_id"])


def test_funnel_stream_under_rocksdb(spark, cep_dirs):
    clips_dir, corr_dir = cep_dirs
    with scep.scoped_rocksdb_state(spark):
        got = _run_funnel(spark, clips_dir, corr_dir, "t_cep_rocks")
    ref = scep.funnel_stream(
        src.clips_batch(spark, clips_dir),
        spark.read.schema(synth.CORRECTIONS_SCHEMA).parquet(corr_dir),
        within_sec=60,
    ).toPandas()
    key = ["clip_id", "a_ts", "b_ts"]
    got_m = got[got["matched"]].sort_values(key).reset_index(drop=True)
    ref_m = ref[ref["matched"]].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_m[key + ["lag_sec"]], ref_m[key + ["lag_sec"]])
    assert len(got_m) > 0


def test_funnel_state_survives_checkpoint_restart(spark, tmp_path):
    # pending-A state written in run 1 must match B rows that only arrive
    # after a restart from checkpoint (the CEP analog of the sink's
    # kill/resume test) — proves applyInPandasWithState state + timers are
    # checkpoint-durable, not batch-local
    import os

    clips_dir = str(tmp_path / "clips")
    corr_dir = str(tmp_path / "corr")
    ck = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")
    os.makedirs(corr_dir)

    ids = [f"aw-{i:08d}" for i in range(10)]
    pdf = synth.make_clips_pdf(10)
    pdf["clip_id"] = ids
    pdf["ingest_ts"] = [t(i) for i in range(10)]
    spark.createDataFrame(pdf, schema=synth.CLIPS_SCHEMA).coalesce(1).write.parquet(
        clips_dir
    )

    def run():
        res = scep.funnel_stream(
            src.clips_stream(spark, clips_dir),
            src.corrections_stream(spark, corr_dir),
            within_sec=60,
            watermark_sec=5,
        )
        q = (
            res.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()  # run 1: only A events -> nothing matched, state = 10 pending
    got1 = spark.read.schema(scep.OUTPUT_SCHEMA).parquet(out_dir)
    assert got1.count() == 0

    # corrections for 6 of the clips arrive AFTER the restart, still inside
    # each clip's 60s horizon
    corr = pd.DataFrame(
        {
            "clip_id": ids[:6],
            "corrected_transcript": ["fix"] * 6,
            "correction_ts": [t(i + 10) for i in range(6)],
        }
    )
    spark.createDataFrame(corr, schema=synth.CORRECTIONS_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(corr_dir)
    run()  # run 2: resumes from checkpoint, matches against restored state

    got2 = spark.read.schema(scep.OUTPUT_SCHEMA).parquet(out_dir).toPandas()
    m = got2[got2["matched"]]
    assert sorted(m["clip_id"]) == sorted(ids[:6])
    assert (m["lag_sec"] == 10).all()


def test_funnel_absence_not_starved_by_continuous_traffic():
    # a key receiving data every batch still gets its absence rows closed
    # INLINE (event-time timers only fire on batches where the key has no
    # data — relying on them alone starves the alerting half of CEP)
    from helpers import MockGroupState

    fn = scep._make_funnel_fn(60)
    st = MockGroupState()

    def batch(evs, wm_s):
        st.hasTimedOut = False
        st._wm = wm_s * 1000
        pdf = pd.DataFrame(
            {
                "ts": pd.to_datetime([t_ms * 10**6 for t_ms, _ in evs]),
                "is_a": [a for _, a in evs],
            }
        )
        out = list(fn(("k",), iter([pdf]), st))
        return pd.concat(out, ignore_index=True) if out else pd.DataFrame()

    batch([(0, True)], wm_s=0)  # A@0, never answered
    # continuous traffic: later As keep arriving every batch; once the
    # watermark passes A@0's horizon its absence row must appear inline
    out = batch([(200_000, True)], wm_s=190)
    u = out[~out["matched"]] if len(out) else out
    assert len(u) == 1 and u.iloc[0]["a_ts"] == pd.Timestamp(0, unit="ms")


def test_funnel_redelivery_after_match_not_reemitted():
    from helpers import MockGroupState

    fn = scep._make_funnel_fn(60)
    st = MockGroupState()

    def batch(evs, wm_s):
        st.hasTimedOut = False
        st._wm = wm_s * 1000
        pdf = pd.DataFrame(
            {
                "ts": pd.to_datetime([t_ms * 10**6 for t_ms, _ in evs]),
                "is_a": [a for _, a in evs],
            }
        )
        out = list(fn(("k",), iter([pdf]), st))
        return pd.concat(out, ignore_index=True) if out else pd.DataFrame()

    out1 = batch([(10_000, True), (20_000, False)], wm_s=0)
    assert len(out1) == 1 and out1.iloc[0]["matched"]
    # at-least-once redelivery of the matched A (still >= watermark):
    # must NOT re-enter the pattern or emit a second row
    out2 = batch([(10_000, True)], wm_s=5)
    assert len(out2) == 0
    # ... and its horizon closing later must not emit an absence row either
    out3 = batch([(300_000, True)], wm_s=250)
    assert out3.empty or (out3["a_ts"] != pd.Timestamp(10_000, unit="ms")).all()


def _chain_brute(evs, preds_hit, n, within):
    """Batch semantics over (ts_ms, marks) events: row i ends a chain if the
    n consecutive rows match the preds in order and the span fits."""
    out = []
    for i in range(n - 1, len(evs)):
        if all(preds_hit[i - (n - 1 - j)][j] for j in range(n)):
            span = evs[i] // 1000 - evs[i - (n - 1)] // 1000
            if within is None or span <= within:
                out.append((evs[i - (n - 1)], evs[i]))
    return out


def test_chain_fn_matches_batch_any_split():
    from helpers import MockGroupState

    # deterministic event tape: marker pattern cycles; several chain hits
    n = 3
    evs = [i * 700 for i in range(40)]  # ms
    hits = [
        (i % 3 == 0, i % 3 == 1, i % 3 == 2)  # a,b,c cycle -> chain at every i%3==2
        for i in range(40)
    ]
    expected = _chain_brute(evs, hits, n, within=None)
    fn = scep._make_chain_fn(n, None)
    for n_batches in (1, 2, 5, 40):
        st = MockGroupState()
        got = []
        size = max(1, len(evs) // n_batches)
        for lo in range(0, len(evs), size):
            chunk = list(range(lo, min(lo + size, len(evs))))
            pdf = pd.DataFrame(
                {
                    "ts": pd.to_datetime([evs[i] * 10**6 for i in chunk]),
                    **{
                        f"m{j}": [int(hits[i][j]) for i in chunk]
                        for j in range(n)
                    },
                }
            )
            for o in fn(("k",), iter([pdf]), st):
                got.extend(
                    (int(r["start_ts"].value // 10**6), int(r["end_ts"].value // 10**6))
                    for _, r in o.iterrows()
                )
        assert got == expected, n_batches


def test_chain_stream_on_clip_stream(spark, cep_dirs):
    clips_dir, _ = cep_dirs
    preds = ["codec = 'pcm16'", "codec = 'ulaw'"]
    res2 = scep.chain_stream(
        src.clips_stream(spark, clips_dir).withColumn(
            "prefix", F.substring("clip_id", 1, 2)
        ),
        "prefix", "ingest_ts", preds, within_sec=3600, watermark_sec=5,
    )
    q = (
        res2.writeStream.format("memory")
        .queryName("t_cep_chain")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_cep_chain").toPandas()
    ref = scep.chain_stream(
        src.clips_batch(spark, clips_dir).withColumn(
            "prefix", F.substring("clip_id", 1, 2)
        ),
        "prefix", "ingest_ts", preds, within_sec=3600,
    ).toPandas()
    key = ["key", "start_ts", "end_ts"]
    g = got.sort_values(key).reset_index(drop=True)
    r = ref.sort_values(key).reset_index(drop=True)
    assert len(g) > 0
    pd.testing.assert_frame_equal(g[key + ["span_sec"]], r[key + ["span_sec"]])


def test_funnel_stream_keyed_matches_batch(spark, tmp_path):
    """funnel_stream_keyed (single predicate-split stream) == batch
    followed_by on the same events, for every A whose horizon the stream's
    final watermark closed. Also pins the watermark-source subtlety: the
    operator's A|B filter runs BEFORE withWatermark, so the stream frontier
    advances only with pattern events — the closed-set cut must use
    max(pattern ts), not max(all ts)."""
    rows = []
    # 3 users, signups + purchases + noise events after the last purchase
    for u in range(3):
        for i in range(8):
            rows.append((u, t(u * 11 + i * 700), "signup", 1.0))
            if i % 2 == 0:
                rows.append((u, t(u * 11 + i * 700 + 120), "purchase", 1.0))
        rows.append((u, t(50_000), "view", 0.0))  # advances nothing (filtered)
    df = _events(spark, rows)
    d = str(tmp_path / "ev")
    df.coalesce(1).write.parquet(d)

    stream = spark.readStream.schema(df.schema).parquet(d)
    res = scep.funnel_stream_keyed(
        stream, "user_id", "ts", "event_type = 'signup'",
        "event_type = 'purchase'", within_sec=300, watermark_sec=10,
    )
    q = (
        res.writeStream.format("memory").queryName("fsk_par")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.table("fsk_par").toPandas()

    batch = scep.funnel_stream_keyed(
        df, "user_id", "ts", "event_type = 'signup'",
        "event_type = 'purchase'", within_sec=300,
    ).toPandas()

    # frontier over PATTERN events only (the view rows never reach the
    # watermark operator)
    import pandas as _pd

    pat = df.where("event_type IN ('signup','purchase')").agg(
        F.max("ts").alias("m")
    ).collect()[0]["m"]
    wm_s = int(_pd.Timestamp(pat).value // 1_000_000_000) - 10
    closed = batch[
        batch["a_ts"].astype("int64") // 1_000_000_000 + 300 + 1 <= wm_s
    ]

    key = ["clip_id", "a_ts"]
    a = got.sort_values(key).reset_index(drop=True)
    b = closed.sort_values(key).reset_index(drop=True)
    # every closed batch row appears in the stream output with equal fields
    merged = b.merge(a, on=key, suffixes=("_b", "_s"), how="left")
    assert not merged["matched_s"].isna().any(), "stream missing closed rows"
    assert (merged["matched_b"] == merged["matched_s"]).all()
    lag_eq = (
        merged["lag_sec_b"].fillna(-1).astype("int64")
        == merged["lag_sec_s"].fillna(-1).astype("int64")
    )
    assert lag_eq.all()


def _reorder_events_dir(spark, tmp_path):
    """Adversarial cross-micro-batch reorder: the LATER-timestamped B commits
    a whole micro-batch before the earlier B, both inside the watermark."""
    d = str(tmp_path / "reorder_events")
    files = [
        [("u1", t(0), "a")],        # batch 1: the A
        [("u1", t(20), "b")],       # batch 2: later B arrives FIRST
        [("u1", t(10), "b")],       # batch 3: earlier B arrives second
        [("u2", t(10_000), "a")],   # batch 4: pushes the watermark forward
        [("u2", t(20_000), "b")],   # batch 5: finalizes everything open
    ]
    for rows in files:
        pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_type"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(d)
        time.sleep(1.1)
    return d


def _run_keyed(spark, d, name, strict):
    stream = (
        spark.readStream.schema("user_id string, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    res = scep.funnel_stream_keyed(
        stream, "user_id", "ts", "event_type = 'a'", "event_type = 'b'",
        within_sec=60, watermark_sec=30, strict_order=strict,
    )
    q = (
        res.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(name).toPandas()


def test_funnel_strict_order_matches_batch_under_reorder(spark, tmp_path):
    """strict_order=True is batch-exact under a cross-batch B reorder that
    the default latency-favoring mode demonstrably gets wrong — proving the
    test scenario actually exercises the documented divergence AND that the
    strict mode closes it."""
    d = _reorder_events_dir(spark, tmp_path)

    default = _run_keyed(spark, d, "cep_reorder_default", strict=False)
    strict = _run_keyed(spark, d, "cep_reorder_strict", strict=True)
    batch = scep.funnel_stream_keyed(
        spark.read.schema("user_id string, ts timestamp, event_type string").parquet(d),
        "user_id", "ts", "event_type = 'a'", "event_type = 'b'", within_sec=60,
    ).toPandas()

    # the default mode picked the first-seen (later) B: the divergence is real
    d_u1 = default[default["clip_id"] == "u1"]
    assert len(d_u1) == 1 and d_u1.iloc[0]["lag_sec"] == 20

    # strict mode == batch oracle exactly, every row finalized
    key = ["clip_id", "a_ts", "b_ts", "lag_sec", "matched"]
    s = strict.sort_values(["clip_id", "a_ts"]).reset_index(drop=True)[key]
    b = batch.sort_values(["clip_id", "a_ts"]).reset_index(drop=True)[key]
    pd.testing.assert_frame_equal(s, b)
    assert s.loc[s["clip_id"] == "u1", "lag_sec"].iloc[0] == 10
    # the u2 absence row closed via the strict path's horizon rule
    assert (~s.loc[s["clip_id"] == "u2", "matched"]).all()


def test_funnel_strict_checkpoint_restart(spark, tmp_path):
    """Buffered-B state (the strict mode's extra array) survives a
    checkpointed stop/restart mid-stream: stop after the reordered Bs are
    buffered but before the watermark finalizes, restart, and the match
    still resolves to the earliest B."""
    d = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def write(rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_type"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(d)
        time.sleep(1.1)

    write([("u1", t(0), "a")])
    write([("u1", t(20), "b")])
    write([("u1", t(10), "b")])

    def start():
        stream = (
            spark.readStream.schema("user_id string, ts timestamp, event_type string")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        res = scep.funnel_stream_keyed(
            stream, "user_id", "ts", "event_type = 'a'", "event_type = 'b'",
            within_sec=60, watermark_sec=30, strict_order=True,
        )
        # parquet sink: the memory sink cannot recover from a checkpoint
        q = (
            res.writeStream.format("parquet").option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        try:
            return spark.read.parquet(sink).toPandas()
        except Exception:
            return pd.DataFrame(
                columns=["clip_id", "a_ts", "b_ts", "lag_sec", "matched"]
            )

    first = start()
    assert first.empty  # nothing finalized yet: watermark still behind the Bs

    write([("u2", t(10_000), "a")])
    write([("u2", t(20_000), "b")])
    second = start()
    u1 = second[second["clip_id"] == "u1"]
    assert len(u1) == 1 and u1.iloc[0]["lag_sec"] == 10 and bool(u1.iloc[0]["matched"])
