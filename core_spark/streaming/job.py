"""spark-submit entrypoint: run the clip CEP pipeline end-to-end.

Usage (also invoked by bench.py at two parallelism levels to evidence the
north rule's N / 4N scaling criterion):

    spark-submit --py-files core_spark core_spark/streaming/job.py \
        --cores 32 --mode tumbling --n-clips 200000 --work /tmp/run

or  python -m core_spark.streaming.job --cores 8 ...

Prints ONE JSON line: rows, wall seconds, clips/sec, per-micro-batch
durations (p50/p99 — the window-close latency proxy: a window's results
become visible when its closing micro-batch commits).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time


def build_args(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    p.add_argument("--mode", default="tumbling",
                   choices=["tumbling", "sliding", "sessions", "join", "native_sessions"])
    p.add_argument("--n-clips", type=int, default=50_000)
    p.add_argument("--work", default="/tmp/core_spark_job")
    p.add_argument("--input", default=None, help="existing clips parquet dir (else synthesized)")
    p.add_argument("--window-sec", type=int, default=60)
    p.add_argument("--gap-sec", type=int, default=300)
    p.add_argument("--salt", type=int, default=0)
    p.add_argument("--batches", type=int, default=4, help="micro-batch count")
    p.add_argument("--files-per-trigger", type=int, default=32,
                   help="files (= input partitions) per micro-batch; the input is "
                        "written as batches*files_per_trigger files so every "
                        "micro-batch has enough splits to keep all cores busy")
    p.add_argument("--spectral", type=int, default=1,
                   help="1: framed-FFT feature pass for tumbling/sliding "
                        "(production-shaped heavy path); the other clip modes "
                        "run the energy pass")
    p.add_argument("--max-partition-mb", type=int, default=20,
                   help="spark.sql.files.maxPartitionBytes in MB. Input files "
                        "are ~19 MB (synth writes n_clips/n_files ~4.3k clips "
                        "each), so 20 MB pins one file per scan task: the "
                        "decode stage then runs files_per_trigger uniform "
                        "tasks at EVERY parallelism level — without this, "
                        "bin-packing targets defaultParallelism and the task "
                        "count (and tail shape) differs between local[7] and "
                        "local[28], skewing the N-vs-4N comparison")
    p.add_argument("--shuffle-partitions", type=int, default=None,
                   help="stateful-operator partition count (default: --cores); "
                        "agg state is tiny (~10-100k keys), so more state "
                        "stores than cores only add commit work — decode "
                        "parallelism comes from input file splits, not from this")
    p.add_argument("--keep-work", action="store_true")
    p.add_argument("--synth-only", action="store_true",
                   help="synthesize the input table and exit (bench uses this "
                        "so input writeback never overlaps a measured run)")
    p.add_argument("--barrier-dir", default=None,
                   help="rendezvous dir: after the untimed warm-up this job "
                        "drops a token file there and blocks until "
                        "--barrier-count tokens exist, so every job in a "
                        "concurrent fleet starts its MEASURED phase at the "
                        "same instant — no job's measurement overlaps another "
                        "job's JVM startup")
    p.add_argument("--barrier-count", type=int, default=1)
    return p.parse_args(argv)


def _barrier(barrier_dir: str, count: int, timeout_sec: float = 600.0) -> None:
    os.makedirs(barrier_dir, exist_ok=True)
    token = os.path.join(barrier_dir, f"ready.{os.getpid()}")
    with open(token, "w") as f:
        f.write("1")
    t0 = time.time()
    while time.time() - t0 < timeout_sec:
        n = len([f for f in os.listdir(barrier_dir) if f.startswith("ready.")])
        if n >= count:
            return
        time.sleep(0.1)
    # fail open: a crashed sibling must not hang the whole fleet


def feature_pass(mode: str, spectral: int):
    """The clip decode pass a mode runs, chosen once for the warm-up and
    the measured run: the framed-FFT pass for tumbling/sliding with
    ``--spectral 1``, the energy pass for every other clip mode, and None
    for join, whose plan decodes nothing."""
    from core_spark.streaming import windows as sw

    if mode == "join":
        return None
    if spectral and mode in ("tumbling", "sliding"):
        return sw.clip_features_spectral
    return sw.clip_features


def main(argv=None) -> dict:
    a = build_args(argv)
    from core_spark.session import get_spark
    from core_spark import synth
    from core_spark.streaming import join as sj
    from core_spark.streaming import sessions as ss
    from core_spark.streaming import sink as sk
    from core_spark.streaming import source as src
    from core_spark.streaming import windows as sw

    spark = get_spark(
        f"cep-{a.mode}",
        cores=a.cores,
        shuffle_partitions=a.shuffle_partitions or a.cores,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(a.max_partition_mb * 1024 * 1024),
            # fat binary rows: the session default of 10k records/Arrow batch
            # is ~350 MB of clip payload buffered per in-flight batch per
            # task — far past LLC, so at 4 concurrent executors it turns
            # into pure DRAM traffic on the JVM->Python hop (the scaling
            # probe shows the fleet is bandwidth-capped). ~512 rows
            # (~18 MB) keeps each hop's working set near-cache-resident;
            # narrow tables elsewhere keep the bigger default.
            "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
        },
    )

    work = a.work
    if not a.keep_work and os.path.isdir(work):
        shutil.rmtree(work)
    os.makedirs(work, exist_ok=True)
    in_dir = a.input or os.path.join(work, "clips")
    n_files = max(a.batches, 1) * max(a.files_per_trigger, 1)
    if not os.path.isdir(in_dir):
        synth.write_clips_parquet(spark, in_dir, a.n_clips, n_files=n_files)
        n_clips = a.n_clips
        if a.synth_only:
            print(json.dumps({"synth_only": True, "n_clips": n_clips}))
            return {"synth_only": True, "n_clips": n_clips}
    elif a.synth_only:
        print(json.dumps({"synth_only": True, "existing": True}))
        return {"synth_only": True, "existing": True}
    elif a.input:
        # pre-existing input: throughput must be computed from the ACTUAL
        # row count, not the --n-clips default (footer-only count, untimed)
        n_clips = spark.read.schema(synth.CLIPS_SCHEMA).parquet(in_dir).count()
    else:
        n_clips = a.n_clips

    files_per_trigger = a.files_per_trigger if a.batches > 1 else None
    stream = src.clips_stream(spark, in_dir, max_files_per_trigger=files_per_trigger)
    features = feature_pass(a.mode, a.spectral)

    # Warm-up (untimed): run one micro-batch-sized slice of the same dataflow
    # in batch mode so Python workers spawn, heaps reach steady state, and
    # codegen JITs before the measured run. Without this the first 1-2
    # micro-batches absorb all cold-start cost and the N-vs-4N comparison
    # measures worker startup, not throughput (bigger N = more cold workers).
    import glob

    from pyspark.sql import functions as F

    warm_files = sorted(glob.glob(os.path.join(in_dir, "part-*")))
    warm_files = warm_files[: max(a.files_per_trigger, 8)]
    if warm_files:
        wdf = spark.read.schema(synth.CLIPS_SCHEMA).parquet(*warm_files)
        if features is None:
            # join decodes nothing: warm the scan of every column its plan
            # reads (all but bytes) with no Python worker
            wdf.drop("bytes").write.format("noop").mode("overwrite").save()
        elif a.mode in ("tumbling", "sliding"):
            sw.tumbling_energy(
                features(wdf), a.window_sec, None, 30, a.salt or None
            ).agg(F.sum("n_clips")).collect()
        else:
            # sessions modes: the decode feature pass is the dominant cold
            # cost (worker spawn + codegen); warm exactly that path
            features(wdf).agg(F.sum("energy")).collect()

    if a.barrier_dir:
        _barrier(a.barrier_dir, a.barrier_count)

    if a.mode in ("tumbling", "sliding"):
        slide = a.window_sec // 3 if a.mode == "sliding" else None
        result = sw.tumbling_energy(
            features(stream), a.window_sec, slide, 30, a.salt or None
        )
        keys = ["window_start", "prefix"]
    elif a.mode == "native_sessions":
        result = sw.session_windows_native(features(stream), a.gap_sec, 30)
        keys = ["session_start", "prefix"]
    elif a.mode == "sessions":
        result = ss.sessionize(features(stream), a.gap_sec, 30)
        keys = ["session_start", "prefix"]
    else:  # join
        corr_dir = os.path.join(work, "corrections")
        if not os.path.isdir(corr_dir):
            spark.createDataFrame(
                synth.make_corrections_pdf_range(0, a.n_clips),
                schema=synth.CORRECTIONS_SCHEMA,
            ).repartition(n_files).write.mode("overwrite").parquet(corr_dir)
        corr = src.corrections_stream(spark, corr_dir)
        result = sj.corrected_transcripts(stream, corr, tolerance_sec=60)
        keys = ["clip_id"]

    # hourly partitions: a micro-batch merge only rewrites the hours it
    # touches (the reference's EventDate-IN pruning, pcdm_to_delta.py:229-237,
    # at the granularity the synthetic event-time span calls for)
    sink = sk.MergeSink(
        os.path.join(work, f"out_{a.mode}"),
        key_cols=keys,
        partition_expr=(
            f"date_format({keys[0]}, 'yyyy-MM-dd-HH')"
            if keys[0] != "clip_id"
            else "substring(clip_id, 1, 1)"
        ),
    )
    t0 = time.time()
    q = sk.run_to_sink(result, sink, os.path.join(work, f"ckpt_{a.mode}"))
    q.awaitTermination()
    wall = time.time() - t0

    def pct(v, q_):
        return v[min(len(v) - 1, int(q_ * len(v)))] if v else None

    out_rows = sink.read(spark).count()
    # state-store footprint from the progress log: the north star is
    # 10^12 clips, so the evidence that matters is state bytes per key
    # staying FLAT as input grows (bench.py's data-scaling phase reads
    # these at 1x and 10x input)
    # memoryUsedBytes counts the HDFS-backed provider's whole loaded-map
    # cache (up to maxBatchesToRetainInMemory=2 retained versions + map
    # overhead); stateOnCurrentVersionSizeBytes is the LIVE version's
    # payload alone — the number whose per-row size must stay flat for
    # the 10^12-clip posture. Both are recorded, per batch, so the
    # bytes/row curve in the bench artifact separates payload growth
    # (would be a leak) from provider-cache shape (is not).
    # all three headline numbers come from the SAME batch — the one with
    # the largest live row count. Taking independent maxes (the old form)
    # could pair batch A's rows with batch B's bytes and report a
    # bytes/row no batch ever had.
    # one pass over the progress log also yields the stderr lines and the
    # batch durations
    batch_ms, data_ms, state_series = [], [], []
    state_rows = state_bytes = state_cur_bytes = 0
    for p in q.recentProgress or []:
        print(
            f"  batch {p.get('batchId')}: rows={p.get('numInputRows')} "
            f"durationMs={p.get('durationMs')}",
            file=sys.stderr,
        )
        d, n_in = p["durationMs"].get("triggerExecution", 0), p.get("numInputRows", 0)
        if n_in > 0 or d > 0:
            batch_ms.append(d)
        if n_in > 0:
            data_ms.append(d)
        ops = p.get("stateOperators") or []
        rows = sum(op.get("numRowsTotal") or 0 for op in ops)
        byts = sum(op.get("memoryUsedBytes") or 0 for op in ops)
        cur = sum(
            (op.get("customMetrics") or {}).get(
                "stateOnCurrentVersionSizeBytes"
            )
            or 0
            for op in ops
        )
        if ops:
            state_series.append([rows, byts, cur])
        if rows > state_rows:
            state_rows, state_bytes, state_cur_bytes = rows, byts, cur
    batch_ms.sort()
    # steady-state throughput: total clips / total time spent INSIDE data
    # micro-batches. This excludes only stream start/stop and inter-batch
    # driver gaps (costs a long-running production stream amortizes to zero)
    # while still counting every processing second — no fastest-batch
    # cherry-picking.
    steady = (
        round(n_clips / (sum(data_ms) / 1000.0), 1)
        if data_ms
        else None
    )
    metrics = {
        "mode": a.mode,
        "cores": a.cores,
        "n_clips": n_clips,
        "rows_out": out_rows,
        "wall_sec": round(wall, 2),
        "clips_per_sec": round(n_clips / wall, 1),
        "clips_per_sec_steady": steady,
        "n_batches": len(batch_ms),
        "batch_ms_p50": pct(batch_ms, 0.50),
        "batch_ms_p99": pct(batch_ms, 0.99),
        "lineage_commits": len(sink.lineage()),
        "state_rows": state_rows,
        "state_bytes": state_bytes,
        "state_cur_bytes": state_cur_bytes,
        "state_series": state_series,
    }
    print(json.dumps(metrics))
    return metrics


if __name__ == "__main__":
    main(sys.argv[1:])
