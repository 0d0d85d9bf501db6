"""The three workloads, each run against the program's public entry points.

- clip_tumbling / clip_join: ``core_spark.streaming.job.main`` in tumbling
  (spectral path) or join mode, draining the generated clip files with
  ``Trigger.availableNow``;
- ts_api: one closed-loop client issuing a fixed cycle of query verbs through
  the Flask app (``api.create_app`` + ``default_catalog``, in-process test
  client).

Spans are recorded around calls into the program's modules from here; the
program itself is not changed. ``run_*`` return a ``Result``.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import inputs
import oracles
from spans import ProgressListener, RssSampler, Tracer, job_ids, jvm_pid, median


@dataclass
class Context:
    workload: str
    seed: int
    seconds: int
    cores: int
    trace: bool
    input_dir: str
    t_start: float  # process start (top of run.py)
    t_excluded: float  # seconds spent preparing inputs, not part of set-up
    tracer: Tracer = None
    out_dir: str = ""

    def setup_s(self, t_first_measured: float) -> float:
        return t_first_measured - self.t_start - self.t_excluded


@dataclass
class Result:
    attempted: int
    failed: int
    errors: list[str]
    metrics: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)
    steps_ms: list[float] = field(default_factory=list)  # every measured step, for the log


def _floor_ms(spark) -> float:
    """Spark's fixed cost of one trivial job."""
    for _ in range(3):
        spark.range(1).collect()
    ts = []
    for _ in range(10):
        t0 = time.perf_counter()
        spark.range(1).collect()
        ts.append((time.perf_counter() - t0) * 1000)
    return median(ts)


# ------------------------------------------------------------------ clips


def _partition_rows(data_dir: str) -> dict[str, int]:
    """Rows per partition directory of the sink's table, from parquet footers."""
    out: dict[str, int] = {}
    if not os.path.isdir(data_dir):
        return out
    for part in os.listdir(data_dir):
        pdir = os.path.join(data_dir, part)
        if "=" not in part or not os.path.isdir(pdir):
            continue
        out[part.split("=", 1)[1]] = sum(
            pq.read_metadata(os.path.join(pdir, f)).num_rows
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
        )
    return out


def _trace_write_batch(sk, tracer: Tracer, calls: list[dict]):
    """Wrap MergeSink.write_batch: span, jobs started inside it (from the
    stream's job group), and whether it merged into existing partitions."""
    orig = sk.MergeSink.write_batch

    def write_batch(self, batch_df, batch_id):
        spark = batch_df.sparkSession
        group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        before = job_ids(spark, group) if group else set()
        existing = _partition_rows(self._data_dir())
        n_lineage = len(self.lineage())
        t0 = time.time()
        orig(self, batch_df, batch_id)
        t1 = time.time()
        jobs = len(job_ids(spark, group) - before) if group else 0
        rec = (self.lineage()[n_lineage:] or [{}])[-1]
        parts = rec.get("partitions") or {}
        merged = [p for p in parts if p in existing]
        calls.append(
            {
                "batch": batch_id,
                "ms": (t1 - t0) * 1000,
                "jobs": jobs,
                "rows": rec.get("rows", 0),
                "merge": bool(merged),
                "read_back": sum(existing[p] for p in merged),
            }
        )
        tracer.add("sink.write_batch", t0, t1, parent=f"batch-{batch_id}", batch=batch_id, jobs=jobs)

    return orig, write_batch


def run_clip(ctx: Context) -> Result:
    import core_spark.session as cs
    from core_spark.streaming import job
    from core_spark.streaming import sink as sk

    shape = inputs.clip_shape(ctx.workload, ctx.seconds)
    mode = "tumbling" if ctx.workload == "clip_tumbling" else "join"
    work = os.path.join(inputs.STATE, "work", ctx.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if mode == "join":
        shutil.copytree(os.path.join(ctx.input_dir, "corrections"), os.path.join(work, "corrections"))
    clips_dir = os.path.join(ctx.input_dir, "clips")
    n_clips = shape["clips_per_file"] * shape["n_files"]

    tracer = ctx.tracer
    listener = ProgressListener()
    marks: dict = {}
    calls: list[dict] = []
    orig_get_spark, orig_rts = cs.get_spark, sk.run_to_sink

    def get_spark(*a, **k):
        with tracer.span("session.get_spark"):
            t0 = time.time()
            spark = orig_get_spark(*a, **k)
            marks["session_s"] = time.time() - t0
        spark.streams.addListener(listener)
        marks["spark"] = spark
        marks["sampler"] = RssSampler(jvm_pid(spark)).__enter__()
        return spark

    def run_to_sink(*a, **k):
        marks["drain_t0"] = time.time()
        q = orig_rts(*a, **k)
        marks["run_id"] = str(q.runId)
        return q

    cs.get_spark, sk.run_to_sink = get_spark, run_to_sink
    orig_wb = None
    if ctx.trace:
        orig_wb, sk.MergeSink.write_batch = _trace_write_batch(sk, tracer, calls)
    argv = [
        "--cores", str(ctx.cores), "--mode", mode, "--input", clips_dir,
        "--work", work, "--keep-work", "--batches", "2",
        "--files-per-trigger", str(shape["files_per_trigger"]),
        "--shuffle-partitions", str(ctx.cores),
    ]
    try:
        stdout = sys.stdout
        sys.stdout = sys.stderr  # the job prints its own JSON line
        try:
            res = job.main(argv)
        finally:
            sys.stdout = stdout
    finally:
        cs.get_spark, sk.run_to_sink = orig_get_spark, orig_rts
        if orig_wb is not None:
            sk.MergeSink.write_batch = orig_wb
        if "sampler" in marks:
            marks["sampler"].__exit__(None, None, None)
    spark = marks["spark"]
    drain_s = res["wall_sec"]  # run_to_sink + awaitTermination
    table = os.path.join(work, f"out_{mode}")
    n_markers = len([f for f in os.listdir(os.path.join(table, "_commits")) if f.isdigit()])
    n_expected = len([f for f in os.listdir(os.path.join(work, f"ckpt_{mode}", "commits")) if f.isdigit()])
    progress = listener.wait_for(marks["run_id"], n_expected)
    data = [p for p in progress if p["numInputRows"] > 0]
    tracer.add("stream.drain", marks["drain_t0"], marks["drain_t0"] + drain_s, span_id="drain")
    for p in progress:
        d = p["durationMs"]
        t0 = _iso_to_epoch(p["timestamp"])
        tracer.add("microbatch.trigger", t0, t0 + d["triggerExecution"] / 1000,
                   parent="drain", span_id=f"batch-{p['batchId']}", batch=p["batchId"])

    if mode == "tumbling":
        errors = oracles.check_tumbling(table, clips_dir, shape["files_per_trigger"], len(progress))
    else:
        errors = oracles.check_join(table, clips_dir, os.path.join(work, "corrections"),
                                    shape["files_per_trigger"])
    if res["n_clips"] != n_clips:
        errors.append(f"the job counted {res['n_clips']} input clips, {n_clips} were written")
    failed = max(0, len(progress) - n_markers)
    metrics = {
        "setup_s": ctx.setup_s(marks["drain_t0"]),
        "throughput_per_s": n_clips / drain_s,
        "step_ms_p50": median(p["durationMs"]["triggerExecution"] for p in data),
        "peak_rss_mb": marks["sampler"].peak_mb,
    }
    layers = {}
    if ctx.trace:
        layers, more = _clip_layers(spark, ctx, progress, data, calls, clips_dir, shape, marks)
        errors += more
    return Result(len(progress), failed, errors, metrics, layers,
                  [p["durationMs"]["triggerExecution"] for p in progress])


def _iso_to_epoch(s: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(s.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


def _state_sum(p: dict, key: str) -> float:
    return sum(op.get(key) or 0 for op in p.get("stateOperators") or [])


def _clip_layers(spark, ctx, progress, data, calls, clips_dir, shape, marks):
    from core_spark import synth
    from core_spark.streaming import windows as sw

    errors = []
    by_batch = {c["batch"]: c for c in calls}
    rows = []
    for p in progress:
        d = p["durationMs"]
        wb = by_batch.get(p["batchId"], {})
        add = d.get("addBatch", 0)
        # the trigger's other named phases (offsets, planning, WAL/commit log)
        phases = sum(v for k, v in d.items() if k not in ("triggerExecution", "addBatch"))
        row = {
            "batch": p["batchId"],
            "input_rows": p["numInputRows"],
            "trigger_ms": d["triggerExecution"],
            "add_batch_ms": add,
            "overhead_ms": d["triggerExecution"] - add,
            "unnamed_overhead_ms": d["triggerExecution"] - add - phases,
            "write_batch_ms": round(wb.get("ms", 0.0), 1),
            "sink_jobs": wb.get("jobs", 0),
            "sink_path": "merge" if wb.get("merge") else ("append" if wb.get("rows") else "none"),
        }
        rows.append(row)
        # addBatch wraps the foreachBatch call, which wraps write_batch, and
        # the phases nest inside the trigger; the JVM times in whole ms
        if row["write_batch_ms"] > add + 2:
            errors.append(f"batch {p['batchId']}: write_batch {row['write_batch_ms']} ms > addBatch {add} ms")
        if row["unnamed_overhead_ms"] < -2:
            errors.append(f"batch {p['batchId']}: addBatch + phases exceed the trigger time")
    table = "\n".join("\t".join(str(v) for v in r.values()) for r in rows)
    table = "\t".join(rows[0]) + "\n" + table + "\n"
    with open(os.path.join(ctx.out_dir, f"{ctx.workload}-seed{ctx.seed}-batches.tsv"), "w") as f:
        f.write(table)
    sys.stderr.write(table)

    top = max(progress, key=lambda p: _state_sum(p, "numRowsTotal"))
    cur_bytes = sum(
        (op.get("customMetrics") or {}).get("stateOnCurrentVersionSizeBytes") or 0
        for op in top.get("stateOperators") or []
    )
    files = sorted(os.path.join(clips_dir, f) for f in os.listdir(clips_dir))
    mb = sum(os.path.getsize(f) for f in files) / 1e6
    scans = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.read.schema(synth.CLIPS_SCHEMA).parquet(*files).write.format("noop").mode("overwrite").save()
        scans.append(time.perf_counter() - t0)
    probe = files[: max(shape["files_per_trigger"], 2)]  # one large trigger, or two small files
    n_probe = shape["clips_per_file"] * len(probe)
    with ctx.tracer.span("decode.feature_pass"):
        t0 = time.perf_counter()
        sw.clip_features_spectral(spark.read.schema(synth.CLIPS_SCHEMA).parquet(*probe)).write.format(
            "noop"
        ).mode("overwrite").save()
        decode_s = time.perf_counter() - t0
    merges = [c for c in calls if c["merge"]]
    upserted = sum(c["rows"] for c in calls)
    layers = {
        "session.start_s": marks["session_s"],
        "microbatch.data_batches": len(data),
        "microbatch.empty_batches": len(progress) - len(data),
        "microbatch.add_batch_ms_p50": median(p["durationMs"].get("addBatch", 0) for p in data),
        "microbatch.overhead_ms_p50": median(
            p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0) for p in data
        ),
        "microbatch.planning_ms_p50": median(p["durationMs"].get("queryPlanning", 0) for p in data),
        "source.latest_offset_ms_p50": median(p["durationMs"].get("latestOffset", 0) for p in data),
        "source.get_batch_ms_p50": median(p["durationMs"].get("getBatch", 0) for p in data),
        "source.scan_mb_per_s": mb / median(scans),
        "decode.clips_per_s": n_probe / decode_s,
        "state.rows_max": _state_sum(top, "numRowsTotal"),
        "state.cur_bytes_max": cur_bytes,
        "state.commit_ms_p50": median(_state_sum(p, "commitTimeMs") for p in data),
        "state.update_ms_p50": median(_state_sum(p, "allUpdatesTimeMs") for p in data),
        "state.rows_dropped_late": sum(_state_sum(p, "numRowsDroppedByWatermark") for p in progress),
        "sink.write_batch_ms_p50": median(c["ms"] for c in calls),
        "sink.jobs_per_batch": median(c["jobs"] for c in calls),
        "sink.merge_batches": len(merges),
        "sink.append_batches": len([c for c in calls if c["rows"] and not c["merge"]]),
        "sink.rewrite_ratio": sum(c["read_back"] for c in merges) / upserted if upserted else 0.0,
        "spark.job_floor_ms": _floor_ms(spark),
    }
    return layers, errors


# ------------------------------------------------------------------ ts_api

TAG = "view"
DAY = {"start_date": "2024-01-10T00:00:00", "end_date": "2024-01-11T00:00:00"}
WEEK = {"start_date": "2024-01-08T00:00:00", "end_date": "2024-01-15T00:00:00"}
MONTH = {"start_date": "2024-01-01T00:00:00", "end_date": "2024-02-01T00:00:00"}

# (name, route, query params). Bucket sizes match the registry oracles' so
# each response can be checked against registry.ORACLES SQL restricted to
# the request's tags and range (see oracles.TS_ORACLES).
CYCLE = [
    ("raw", "/events/raw", {"tag_name": [TAG], **DAY}),
    ("resample", "/events/resample", {"tag_name": ["click", TAG], **DAY, "time_interval_rate": "1",
                                      "time_interval_unit": "hour", "agg_method": "avg"}),
    ("interpolate", "/events/interpolate", {"tag_name": [TAG], **WEEK, "time_interval_rate": "6",
                                            "time_interval_unit": "hour"}),
    ("twa", "/events/timeweightedaverage", {"tag_name": [TAG], **DAY, "time_interval_rate": "6",
                                            "time_interval_unit": "hour", "step": "false"}),
    ("circular_average", "/events/circularaverage", {"tag_name": [TAG], **WEEK, "time_interval_rate": "1",
                                                     "time_interval_unit": "day", "lower_bound": "0",
                                                     "upper_bound": "20"}),
    ("summary", "/events/summary", {"tag_name": list(inputs.EVENT_TAGS), **MONTH}),
    ("latest", "/events/latest", {}),
    ("plot", "/events/plot", {"tag_name": [TAG], **WEEK, "time_interval_rate": "1",
                              "time_interval_unit": "day"}),
]
VERBS = [name for name, _, _ in CYCLE]
ROUND_S = 9.0  # nominal seconds per warm round on a 4-core host; sets the round count
# two warm-up rounds: the JVM is still compiling the plans' hot paths during
# the second round (rounds of one run took 24.0, 15.0, 9.5 and 8.7 s)
WARM_ROUNDS = 2


def _query_string(params: dict) -> str:
    from urllib.parse import urlencode

    return urlencode([(k, x) for k, v in params.items() for x in (v if isinstance(v, list) else [v])])


def run_ts_api(ctx: Context) -> Result:
    from core_spark.api import app as api
    from core_spark.session import get_spark

    tracer = ctx.tracer
    with tracer.span("session.get_spark"):
        t0 = time.time()
        spark = get_spark(f"perfbench-{ctx.workload}", cores=ctx.cores, shuffle_partitions=ctx.cores)
        session_s = time.time() - t0
    sampler = RssSampler(jvm_pid(spark)).__enter__()
    orig_verb = api.execute_verb
    if ctx.trace:
        api.execute_verb = _traced_verb(orig_verb, tracer)
    try:
        client = api.create_app(spark, api.default_catalog(spark, ctx.input_dir)).test_client()
        rounds = WARM_ROUNDS + max(2, round(ctx.seconds / ROUND_S))
        answers, round_ms, jobs, failed, t_measured = [], [], [], 0, None
        for r in range(rounds):
            if r == WARM_ROUNDS:
                t_measured = time.time()
            group = f"perfbench-round-{r}"
            if ctx.trace:
                spark.sparkContext.setJobGroup(group, "ts_api round")
            t0 = time.perf_counter()
            got = []
            for name, route, params in CYCLE:
                with tracer.span(f"api.{name}", round=r):
                    resp = client.get(f"/api/v1{route}?{_query_string(params)}")
                failed += resp.status_code != 200
                got.append((resp.status_code, resp.get_json()))
            round_ms.append((time.perf_counter() - t0) * 1000)
            if ctx.trace:
                jobs.append(len(job_ids(spark, group)))
                spark.sparkContext.setJobGroup(None, None)
            answers.append(got)
        measured_s = time.time() - t_measured
    finally:
        api.execute_verb = orig_verb
        sampler.__exit__(None, None, None)

    errors = oracles.check_ts_api(CYCLE, answers, os.path.join(ctx.input_dir, "events.parquet"))
    n_measured = (rounds - WARM_ROUNDS) * len(CYCLE)
    metrics = {
        "setup_s": ctx.setup_s(t_measured),
        "throughput_per_s": n_measured / measured_s,
        "step_ms_p50": median(round_ms[WARM_ROUNDS:]),
        "peak_rss_mb": sampler.peak_mb,
    }
    layers = {}
    if ctx.trace:
        layers = _ts_layers(tracer, jobs, session_s)
        layers["spark.job_floor_ms"] = _floor_ms(spark)
    return Result(rounds * len(CYCLE), failed, errors, metrics, layers, round_ms)


def _traced_verb(orig, tracer: Tracer):
    """execute_verb + the route's toPandas of its result, as one query span."""

    def execute_verb(spark, catalog, verb, params):
        sid = f"query#{time.perf_counter_ns()}"
        t0 = time.time()
        df = orig(spark, catalog, verb, params)
        planned = time.time()
        to_pandas = df.toPandas

        def timed_to_pandas():
            pdf = to_pandas()
            tracer.add("query", t0, time.time(), span_id=sid, plan_s=planned - t0)
            return pdf

        df.toPandas = timed_to_pandas
        return df

    return execute_verb


def _ts_layers(tracer: Tracer, jobs: list[int], session_s: float) -> dict[str, float]:
    """query.<verb> = execute_verb + toPandas; api.<verb> = the request's
    self time (routes, parameter parsing, json_envelope, Flask)."""
    reqs = sorted((s for s in tracer.spans if s["name"].startswith("api.")), key=lambda s: s["start"])
    queries = sorted((s for s in tracer.spans if s["name"] == "query"), key=lambda s: s["start"])
    per_q: dict[str, list[float]] = {v: [] for v in VERBS}
    per_api: dict[str, list[float]] = {v: [] for v in VERBS}
    qi = 0
    for s in reqs:
        verb = s["name"][4:]
        inner = 0.0
        while qi < len(queries) and queries[qi]["start"] < s["end"]:
            q = queries[qi]
            q["parent"] = s["id"]
            inner += q["end"] - q["start"]
            qi += 1
        if s["round"] < WARM_ROUNDS:
            continue  # warm-up rounds are set-up, not measured rounds
        per_q[verb].append(inner * 1000)
        per_api[verb].append((s["end"] - s["start"] - inner) * 1000)
    layers = {"session.start_s": session_s}
    for v in VERBS:
        layers[f"query.{v}.ms_p50"] = median(per_q[v])
    layers["query.jobs_per_round"] = median(jobs[WARM_ROUNDS:])
    for v in VERBS:
        layers[f"api.{v}.ms_p50"] = median(per_api[v])
    return layers
