"""Headline benchmark. Prints ONE JSON line:

    {"metric": ..., "value": <sec>, "unit": "sec", "queries": {...}, "sf": ...}

Two parts:
1. Batch operator suite at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS]:
   per-query wall seconds, best of 3.
2. Streaming CEP scaling evidence (north rule): clips/sec of the same job
   at N and 4N executors and the paired efficiency T(4N) / (4 * T(N)), all
   measured within THIS invocation (method: `run_scaling`, SCALE.md §8).

Each run appends its JSON line (plus the git `code`) to BENCH/history.jsonl
and re-renders BENCH/BASELINE.md from that file.

Environment:
    SPARK_GRAFT_SF_DIR              batch input dir (default: the sf0.1 test data)
    SPARK_GRAFT_CPUS                batch suite cores (default 32)
    SPARK_GRAFT_BENCH_WORK          scaling work dir (default /dev/shm/core_spark_bench)
    SPARK_GRAFT_BENCH_SKIP_SCALING  set to skip part 2 (it spawns JVM fleets)
    SPARK_GRAFT_BENCH_CLIPS         scaling input size in clips (default 480000)
    SPARK_GRAFT_BENCH_BUDGET_SEC    soft wall budget of the whole run (default 3300)
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from functools import partial

REPO = os.path.dirname(os.path.abspath(__file__))

CORES_LO = 2  # local[k] of the calibrated pairs (footprint: run_scaling)
HEAP_LO = "4g"  # right-sized heap, identical at both levels of a pair
SF_CORES, SF_HEAP = 6, "8g"  # spec-form pairs: the BASELINE.json footprint
N_EXEC = 4  # executors at the 4N level
REPEATS = 5  # calibrated pairs: 3 graded + 2 budget-optional tighteners
PROBE_BAND = (0.7, 1 / 0.7)  # spec-form probe_fleet/probe_lo gate

BATCH_QUERIES = [
    "ts_resample_avg",
    "ts_resample_filled",
    "ts_interpolate_linear",
    "ts_twa_linear",
    "ts_circular_avg",
    "ts_latest",
    "ts_summary",
    "dq_ksigma",
    "text_doc_stats",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_topk_cosine",
    "sim_lsh_topk",
    "audio_window_energy",
    "ts_cep_funnel",
    "ts_cep_contiguous",
    "audio_vad_stats",
    "dedup_audio_fingerprint",
    "stream_twa",  # stateful streaming verb end-to-end over the events table
    "dq_expectations",  # whole-suite single-pass expectations validation
    "dq_expectations_extended",  # incl. the range-partitioned monotonicity pass
    "dq_expectations_conditioned",
]


def _git_head() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=REPO,
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def run_batch(sf_dir: str, cores: int) -> dict[str, float]:
    from pyspark.sql import functions as F
    from pyspark.sql.functions import PandasUDFType

    from core_spark import registry
    from core_spark.session import get_spark

    spark = get_spark("bench", cores=cores, shuffle_partitions=cores)
    # warm the JVM + the Python/Arrow worker pool once so per-query times
    # measure the queries, not the one-time fork of `cores` UDF workers
    spark.read.parquet(f"{sf_dir}/events.parquet").count()

    @F.pandas_udf("double", PandasUDFType.SCALAR)
    def _warm(v):
        return v

    spark.range(0, cores * 1000, 1, cores).select(
        _warm(F.col("id").cast("double"))
    ).count()
    # min of 3 runs per query: the first run of each plan shape pays one-time
    # JIT/codegen compilation, and the third narrows shared-host drift
    times: dict[str, float] = {}
    for name in BATCH_QUERIES:
        fn = registry.QUERIES[name]
        best, rows = None, 0
        for _ in range(3):
            t0 = time.time()
            rows = fn(spark, sf_dir).count()
            dt = round(time.time() - t0, 3)
            best = dt if best is None or dt < best else best
        times[name] = best
        print(f"  {name}: {times[name]}s ({rows} rows)", file=sys.stderr)
    return times


def _run_batch_isolated(sf_dir: str, cores: int) -> dict[str, float]:
    """Run the batch suite in a CHILD process so its local[32] JVM (a
    pre-touched multi-GB heap plus `cores` Python workers) has exited before
    the scaling fleet is measured; left resident, even idle, it steals
    memory bandwidth and LLC from the pinned fleet JVMs."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--batch-only"],
        cwd=REPO, env=dict(os.environ, PYTHONPATH=REPO),
        stdout=subprocess.PIPE, text=True, timeout=3600,
    )
    lines = [l for l in (out.stdout or "").splitlines() if l.startswith("{")]
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"batch suite child failed (rc={out.returncode})")
    return json.loads(lines[-1])["times"]


def _bench_root() -> str:
    """Scaling work dirs live on tmpfs when available, so checkpoints, state
    stores and sink merges never contend on one real disk (a cluster gives
    every executor its own). Override with $SPARK_GRAFT_BENCH_WORK."""
    env = os.environ.get("SPARK_GRAFT_BENCH_WORK")
    if env:
        return env
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        return "/dev/shm/core_spark_bench"
    return "/tmp/core_spark_bench"


def _job_cmd(
    cores: int,
    n_clips: int,
    work: str,
    in_dir: str,
    files_per_trigger: int = 112,
    cpuset: str | None = None,
    barrier_dir: str | None = None,
    barrier_count: int = 1,
    mode: str = "tumbling",
) -> list[str]:
    batches = max(1, 336 // files_per_trigger)  # input is written as 336 files
    # pin the whole JVM and the Python workers it forks (they inherit the
    # mask): unpinned, the level-N JVM borrows idle cores and biases the
    # efficiency down
    pin = ["taskset", "-c", cpuset] if cpuset and shutil.which("taskset") else []
    cmd = pin + [
        sys.executable, "-m", "core_spark.streaming.job",
        "--cores", str(cores), "--mode", mode, "--salt", "8",
        "--n-clips", str(n_clips), "--work", work,
        # throughput mode: 112 files (a third of the input) per micro-batch;
        # latency mode passes fewer for many short batches over the same input
        "--input", in_dir, "--batches", str(batches),
        "--files-per-trigger", str(files_per_trigger),
    ]
    if barrier_dir:
        cmd += ["--barrier-dir", barrier_dir, "--barrier-count", str(barrier_count)]
    return cmd


def _run_job(cmd: list[str], heap: str | None = None) -> dict:
    env = dict(os.environ, PYTHONPATH=REPO)
    if heap:
        # a local[k] slice job on the default (up to 20 GB) AlwaysPreTouch heap wastes
        # startup on page-zeroing (4 concurrent = a fleet-wide fault storm)
        # and measures ~15% slower from GC locality
        env["SPARK_GRAFT_DRIVER_MEM"] = heap
    out = subprocess.run(
        cmd, cwd=REPO, env=env, capture_output=True, text=True, timeout=3600
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not line:
        raise RuntimeError(f"job failed: {cmd}\n{out.stderr[-2000:]}")
    return json.loads(line[-1])


def _synth_input(n_clips: int, files_per_trigger: int) -> str:
    """The n-clip input dir (3 x files_per_trigger files), synthesized once in
    an unpinned step so its writeback never overlaps a measured run."""
    in_dir = os.path.join(_bench_root(), f"clips_input_{n_clips}")
    if not os.path.isdir(in_dir):
        _run_job(
            [sys.executable, "-m", "core_spark.streaming.job",
             "--cores", "32", "--mode", "tumbling", "--n-clips", str(n_clips),
             "--work", os.path.join(_bench_root(), f"synth_{n_clips}"),
             "--input", in_dir, "--batches", "3",
             "--files-per-trigger", str(files_per_trigger), "--synth-only"]
        )
    return in_dir


def _median_by(runs: list[dict], key: str) -> dict:
    # the run whose <key> is the median: every metric from ONE measurement
    s = sorted(runs, key=lambda r: r.get(key) or 0.0)
    return s[len(s) // 2]


def _slice(i: int, width: int = 8) -> str:
    return f"{i * width}-{i * width + width - 1}"


# pure-CPU kernel (64 KB working set): prints its rate once after a 5 s
# window (argv "5 0", the calibration) or every 2 s forever ("2 1", the probe)
_CPU_SRC = r"""
import sys, time
import numpy as np
x = np.random.rand(8192).astype(np.float32)
window, forever = float(sys.argv[1]), sys.argv[2] == "1"
while True:
    t0 = time.time(); n = 0
    while time.time() - t0 < window:
        for _ in range(20):
            y = np.sin(x) * np.cos(x)
        n += 20
    print(n / (time.time() - t0), flush=True)
    if not forever:
        break
"""

_TRIAD_SRC = r"""
import time
import numpy as np
n = 8_000_000  # 3 x 64 MB float64 arrays: far past LLC, pure DRAM traffic
a = np.zeros(n); b = np.random.rand(n); c = np.random.rand(n)
t0 = time.time(); it = 0
while time.time() - t0 < 4:
    np.multiply(c, 2.5, out=a)  # read c, write a
    np.add(a, b, out=a)         # read a + b, write a
    it += 1
dt = time.time() - t0
print(it * 5 * n * 8 / dt / 1e9)  # 5 array passes/iter -> GB/s delivered
"""

_PROBE_CORE = "31"  # reserved: the 7-wide calibrated slices end at core 27


def _start_host_probe():
    """1-core pure-CPU probe on the reserved core for the length of a
    measured run: its median rate is the per-core speed the host DELIVERED
    in that window (it drifts ±25% minute-to-minute on a shared host). The
    64 KB working set stays L2-resident: engine DRAM traffic barely moves it."""
    if not shutil.which("taskset"):
        return None
    return subprocess.Popen(
        ["taskset", "-c", _PROBE_CORE, sys.executable, "-c", _CPU_SRC, "2", "1"],
        stdout=subprocess.PIPE, text=True,
    )


def _stop_host_probe(p) -> float | None:
    if p is None:
        return None
    p.terminate()
    try:
        out = p.communicate(timeout=10)[0]  # reap — no zombie per measured run
    except subprocess.TimeoutExpired:
        p.kill()
        out = p.communicate()[0]
    # per token: terminate() can cut the last line, which must not cost the rest
    rates = []
    for tok in (out or "").split():
        try:
            rates.append(float(tok))
        except ValueError:
            continue
    # median over the run: pre-barrier JVM spin-up windows are a minority
    return round(statistics.median(rates), 0) if rates else None


def _probed(fn):
    """fn() inside a reserved-core probe window -> (result, probe rate)."""
    probe = _start_host_probe()
    try:
        res = fn()
    finally:
        rate = _stop_host_probe(probe)
    return res, rate


def _best_rates(src: str, levels: tuple[int, ...], *args: str) -> dict[int, float]:
    """Summed printed rate of n copies of `src`, one pinned per core, for
    each n in `levels`; 0.0 where the host can't run a level (fewer cores).
    A host control must survive minute-scale throttle windows (one 10 s
    sample can read 2x low), so the levels run in 3 interleaved rounds and
    each keeps its MAX: the best estimate of delivered capacity."""
    best = dict.fromkeys(levels, 0.0)
    for _ in range(3):
        for lvl in levels:
            procs = [
                subprocess.Popen(
                    ["taskset", "-c", str(i), sys.executable, "-c", src, *args],
                    stdout=subprocess.PIPE, text=True,
                )
                for i in range(lvl)
            ]
            outs = [p.communicate()[0] for p in procs]
            try:
                best[lvl] = max(best[lvl], sum(float(o) for o in outs))
            except (TypeError, ValueError):
                pass
    return best


def host_cpu_calibration() -> dict:
    """Control: how much CPU does this host DELIVER as core occupancy grows?
    The pure-CPU kernel (no DRAM traffic, no IO, no Spark) runs one per core
    at 2/8/12/24 busy cores; the ratios are a property of the hypervisor
    alone and justify the calibrated pairs' footprint."""
    if not shutil.which("taskset"):
        return {}
    r = _best_rates(_CPU_SRC, (2, 8, 12, 24), "5", "0")
    out = {f"pure_cpu_rate_{lvl}": round(v, 0) for lvl, v in r.items()}
    if r[2] > 0:  # ratio only for levels the host could actually run
        for lvl in (8, 12, 24):
            if r[lvl] > 0:
                out[f"pure_cpu_eff_2_to_{lvl}"] = round(r[lvl] / (lvl / 2 * r[2]), 3)
    return out


def host_membw_calibration() -> dict:
    """Control: how much MEMORY BANDWIDTH does this host deliver as core
    occupancy grows? The stream-triad kernel runs one per core at 1/6/24
    busy cores — the spec-form footprint's two levels plus a single-core
    anchor; membw_eff_6_to_24 is the host's own ceiling for that pair."""
    if not shutil.which("taskset"):
        return {}
    r = _best_rates(_TRIAD_SRC, (1, 6, 24))
    out = {f"triad_gbps_{lvl}": round(v, 2) for lvl, v in r.items()}
    if r[6] > 0 and r[24] > 0:
        out["membw_eff_6_to_24"] = round(r[24] / (4.0 * r[6]), 3)
    if r[1] > 0 and r[6] > 0:
        out["membw_eff_1_to_6"] = round(r[6] / (6.0 * r[1]), 3)
    return out


def _staggered(cmds: list[list[str]], heap: str) -> list[dict]:
    # concurrent, started 1 s apart to spread heap-pretouch fault bursts
    def one(i: int) -> dict:
        time.sleep(1.0 * i)
        return _run_job(cmds[i], heap=heap)

    with ThreadPoolExecutor(max_workers=len(cmds)) as ex:
        return list(ex.map(one, range(len(cmds))))


def _pair(wdir: str, cores: int, width: int, heap: str, n_clips: int, in_dir: str):
    """One N-vs-4N pair: a local[cores] run pinned to slice 0, then N_EXEC
    concurrent ones on slices 0..N_EXEC-1 that meet on a barrier after their
    untimed warm-up, each level inside its own probe window. Returns (lo
    result, summed fleet result, ratios); the normalized efficiency scales
    the raw one by probe_lo / probe_fleet."""
    lo, probe_lo = _probed(lambda: _run_job(
        _job_cmd(cores, n_clips, os.path.join(wdir, "lo"), in_dir,
                 cpuset=_slice(0, width)),
        heap=heap,
    ))
    bdir = os.path.join(wdir, "barrier")
    cmds = [
        _job_cmd(cores, n_clips, os.path.join(wdir, f"fleet{i}"), in_dir,
                 cpuset=_slice(i, width), barrier_dir=bdir, barrier_count=N_EXEC)
        for i in range(N_EXEC)
    ]
    rs, probe_fleet = _probed(lambda: _staggered(cmds, heap))
    fleet = {
        "clips_per_sec": round(sum(r["clips_per_sec"] for r in rs), 1),
        "clips_per_sec_steady": round(sum(r["clips_per_sec_steady"] or 0 for r in rs), 1),
        "batch_ms_p50": max(r["batch_ms_p50"] for r in rs),
        "batch_ms_p99": max(r["batch_ms_p99"] for r in rs),
    }
    raw = fleet["clips_per_sec"] / (4.0 * lo["clips_per_sec"])
    probed = bool(probe_lo and probe_fleet)
    return lo, fleet, {
        "efficiency_raw": round(raw, 3),
        "efficiency_normalized": round(raw * probe_lo / probe_fleet, 3) if probed else None,
        "probe_lo": probe_lo,
        "probe_fleet": probe_fleet,
        "probe_ratio": round(probe_fleet / probe_lo, 3) if probed else None,
    }


def run_scaling(n_clips: int, deadline: float | None = None) -> dict:
    """North-rule scaling evidence, N vs 4N EXECUTORS on the same input;
    returns the JSON line's scaling fields. An executor is a JVM, so 4N is
    4 concurrent local[k] JVMs (not one local[4k] JVM, whose one thread pool
    conflates intra-JVM contention with scaling), each over the full input,
    and fleet throughput is the sum of rates. k = 2 keeps the fleet inside
    the linear part of the host CPU control measured first. JVMs are pinned
    to disjoint slices, work dirs are on tmpfs, and pairs are INTERLEAVED:
    the headline is the median of RAW per-pair ratios, so slow drift
    cancels inside each pair; the probe-normalized ratio is a diagnostic
    only (the probe also slows under the fleet's own load). The 3 graded
    pairs and the first latency point always run; the optional phases
    follow in priority order under the soft deadline."""
    work = _bench_root()
    in_dir = _synth_input(n_clips, 112)
    os.sync()  # then touch every byte once: no measured run pays cold-read IO
    for f in glob.glob(os.path.join(in_dir, "part-*")):
        with open(f, "rb") as fh:
            while fh.read(1 << 24):
                pass

    # host controls (no Spark, no engine code), measured alone on the host
    calib = host_cpu_calibration()
    print(f"  host cpu calibration: {calib}", file=sys.stderr)
    membw = host_membw_calibration()
    print(f"  host memory-bandwidth calibration: {membw}", file=sys.stderr)

    lo_runs, fleet_runs, pair_ratios, fallback = [], [], [], []
    lat_sweep, ds_points, modes = [], [], {}
    sf_pairs, sf_discarded, peaks = [], [], []
    mid_n = max(30_000, n_clips // 3)

    def single(wdir, n, src, fpt, width=7, mode="tumbling") -> dict:
        return _run_job(
            _job_cmd(CORES_LO, n, wdir, src, files_per_trigger=fpt,
                     cpuset=_slice(0, width), mode=mode),
            heap=HEAP_LO,
        )

    def calibrated(rep: int, wdir: str) -> dict:
        lo, fleet, ratios = _pair(wdir, CORES_LO, 7, HEAP_LO, n_clips, in_dir)
        lo_runs.append(lo)
        fleet_runs.append(fleet)
        pair_ratios.append(ratios)
        if ratios["efficiency_normalized"] is None:
            fallback.append(rep)  # probe window lost: raw stands in
        return dict(ratios, lo=lo["clips_per_sec"], fleet=fleet["clips_per_sec"])

    def latency(fpt: int, wdir: str) -> dict:
        # an availableNow batch's duration bounds window-close latency, so
        # the trigger size is the latency knob
        r = dict(single(wdir, n_clips, in_dir, fpt, width=8), files_per_trigger=fpt)
        lat_sweep.append(r)
        return r

    def data_point(sn: int, wdir: str) -> dict:
        # same 3-trigger structure and ~1.4k-clips/file shape as the full
        # input, so state rows reflect the same watermark-eviction dynamics
        fpt = max(2, 112 * sn // n_clips)
        ds_points.append(single(wdir, sn, _synth_input(sn, fpt), fpt))
        return ds_points[-1]

    def mode_run(mode: str, wdir: str) -> dict:
        # the other stateful families (gap sessions, stream-stream join), on
        # the data-scaling mid-size input when it exists
        mid_dir = os.path.join(work, f"clips_input_{mid_n}")
        n, src, fpt = (
            (mid_n, mid_dir, max(2, 112 * mid_n // n_clips))
            if os.path.isdir(mid_dir) else (n_clips, in_dir, 112)
        )
        r = single(wdir, n, src, fpt, mode=mode)
        keep = ("clips_per_sec", "clips_per_sec_steady", "batch_ms_p99", "rows_out")
        modes[mode] = {"n_clips": n, **{k: r[k] for k in keep}}
        return modes[mode]

    def specform(attempt: int, wdir: str) -> dict | None:
        # a pair whose probe_fleet/probe_lo leaves PROBE_BAND saw different
        # host speed in its two windows (either direction): the first such
        # pair is set aside and re-run, a later one is kept and flagged
        if len(sf_pairs) >= 3:
            return None
        lo, fleet, ratios = _pair(wdir, SF_CORES, 8, SF_HEAP, n_clips, in_dir)
        peaks.append(fleet)
        pair = {"rep": attempt, "clips_per_sec_lo": lo["clips_per_sec"],
                "clips_per_sec_fleet": fleet["clips_per_sec"], **ratios}
        pr = ratios["probe_ratio"]
        dirty = pr is not None and not PROBE_BAND[0] <= pr <= PROBE_BAND[1]
        if dirty and not sf_discarded:
            pair["discarded_throttle_window"] = True
            sf_discarded.append(pair)
        else:
            if dirty:
                pair["throttle_window_unretried"] = True
            sf_pairs.append(pair)
        return pair

    # (name, margin s, informational, step): margin is the step's expected
    # duration, so a step that would end past the deadline does not start
    # (None: always runs); an informational step may fail on its own
    sizes = sorted({max(20_000, n_clips // 10), mid_n})
    steps = (
        [(f"pair {r}", None, False, partial(calibrated, r)) for r in range(3)]
        + [(f"latency fpt={f}", m, False, partial(latency, f))
           for f, m in ((14, None), (7, 240), (28, 1500))]
        + [(f"data scaling n={n}", m, True, partial(data_point, n))
           for n, m in zip(sizes, (280, 150))]
        + [(f"mode sweep {m}", 120, True, partial(mode_run, m)) for m in ("sessions", "join")]
        + [(f"spec-form pair {a}", 300, True, partial(specform, a)) for a in range(5)]
        + [(f"pair {r}", 360, False, partial(calibrated, r)) for r in range(3, REPEATS)]
    )
    for i, (name, margin, informational, step) in enumerate(steps):
        if margin is not None and deadline is not None and time.time() + margin > deadline:
            print(f"  deadline reached — skipping {name}", file=sys.stderr)
            continue
        wdir = os.path.join(work, f"step{i}")
        shutil.rmtree(wdir, ignore_errors=True)  # no stale barrier tokens
        try:
            res = step(wdir)
            if res is not None:
                print(f"  {name}: {res}", file=sys.stderr)
        except Exception as exc:
            if not informational:
                raise
            print(f"  {name} failed: {exc}", file=sys.stderr)
        finally:
            shutil.rmtree(wdir, ignore_errors=True)

    data_scaling = None
    if ds_points:
        # read against the median of the 3 graded lo runs (full input)
        pts = ds_points + [_median_by(lo_runs[:3], "clips_per_sec")]
        col = lambda k: [p.get(k) for p in pts]  # noqa: E731
        walls, steady, rows = col("wall_sec"), col("clips_per_sec_steady"), col("state_rows")
        data_scaling = {
            "cores": CORES_LO,
            "n_clips": col("n_clips"),
            "wall_sec": walls,
            "wall_ratio": round(walls[-1] / walls[0], 2),
            "wall_ratio_steps": [round(b / a, 2) for a, b in zip(walls, walls[1:])],
            "clips_per_sec": col("clips_per_sec"),
            "clips_per_sec_steady": steady,
            "rate_ratio_steady": (
                round(steady[-1] / steady[0], 3) if steady[0] and steady[-1] else None
            ),
            "state_rows": rows,
            "state_bytes": col("state_bytes"),
            "state_bytes_per_row": [
                round((b or 0) / n, 1) if n else None for b, n in zip(col("state_bytes"), rows)
            ],
            # live-version payload (provider cache excluded): must stay flat
            "state_cur_bytes": col("state_cur_bytes"),
            "state_cur_bytes_per_row": [
                round(b / n, 1) if n and b else None for b, n in zip(col("state_cur_bytes"), rows)
            ],
        }

    peak = specform_pair = None
    if peaks:
        best = max(peaks, key=lambda f: f["clips_per_sec"])
        keep = ("clips_per_sec", "clips_per_sec_steady", "batch_ms_p99")
        peak = {"n_executors": N_EXEC, "cores_per_executor": SF_CORES,
                **{k: best[k] for k in keep}, "rep_rates": [f["clips_per_sec"] for f in peaks]}
    if sf_pairs:
        norms = [p["efficiency_normalized"] for p in sf_pairs
                 if p["efficiency_normalized"] is not None]
        specform_pair = {
            "cores_lo": SF_CORES,
            "cores_hi": N_EXEC * SF_CORES,
            "pairs": sf_pairs,
            "discarded_pairs": sf_discarded or None,
            "clean_pair_count": len(sf_pairs),
            "clips_per_sec_lo": sf_pairs[0]["clips_per_sec_lo"],
            "clips_per_sec_fleet": sf_pairs[0]["clips_per_sec_fleet"],
            "efficiency_raw": round(statistics.median(p["efficiency_raw"] for p in sf_pairs), 3),
            "efficiency_normalized": round(statistics.median(norms), 3) if norms else None,
            "membw_eff_6_to_24": membw.get("membw_eff_6_to_24"),
        }

    raw = [r["efficiency_raw"] for r in pair_ratios]
    norm = [r["efficiency_raw"] if r["efficiency_normalized"] is None
            else r["efficiency_normalized"] for r in pair_ratios]
    mid = len(raw) // 2  # upper median: one of the measured values
    med_lo = _median_by(lo_runs, "clips_per_sec")
    med_fleet = _median_by(fleet_runs, "clips_per_sec")
    t_lo, t_hi = med_lo["clips_per_sec"], med_fleet["clips_per_sec"]
    s_lo, s_hi = med_lo.get("clips_per_sec_steady"), med_fleet.get("clips_per_sec_steady")
    lat_keys = ("files_per_trigger", "clips_per_sec", "batch_ms_p50", "batch_ms_p99")
    # headline window-close latency: the sweep's lowest-p99 point
    lat = min(lat_sweep, key=lambda r: r["batch_ms_p99"] or 1e12)
    out = {
        "clips_per_sec": t_hi,
        "clips_per_sec_n": t_lo,
        "scaling_cores": [CORES_LO, N_EXEC * CORES_LO],
        "scaling_efficiency": sorted(raw)[mid],  # the >= 0.8 gate
        "scaling_efficiency_normalized": sorted(norm)[mid],
        "scaling_efficiency_pairs_normalized": norm,
        "scaling_efficiency_raw": sorted(raw)[mid],
        "scaling_efficiency_pairs_raw": raw,
        "pair_probe_fallback_reps": fallback or None,
        "host_probe_rates": {"lo": [r["probe_lo"] for r in pair_ratios],
                             "fleet": [r["probe_fleet"] for r in pair_ratios]},
        "scaling_efficiency_of_medians": round(t_hi / (4.0 * t_lo), 3),
        "scaling_efficiency_steady": round(s_hi / (4.0 * s_lo), 3) if s_lo and s_hi else None,
        "clips_per_sec_steady": s_hi,
        "window_close_p99_ms": lat["batch_ms_p99"] or med_fleet["batch_ms_p99"],
        "window_close_p50_ms": lat["batch_ms_p50"],
        "latency_files_per_trigger": lat["files_per_trigger"],
        "latency_sweep": [{k: r.get(k) for k in lat_keys} for r in lat_sweep],
        "throughput_mode_fleet_p99_ms": med_fleet["batch_ms_p99"],
        "scaling_reps": {"lo": [r["clips_per_sec"] for r in lo_runs],
                         "fleet": [r["clips_per_sec"] for r in fleet_runs]},
        "host_cpu_calibration": calib,
        "host_membw_calibration": membw or None,
        "data_scaling": data_scaling,
        "peak_fleet": peak,
        "mode_sweep": modes or None,
        "specform_pair": specform_pair,
    }
    if peak:
        out["clips_per_sec_peak"] = peak["clips_per_sec"]  # whole-host capacity
    return out


_BATCH_KEYS = ("metric", "value", "unit", "queries", "sf", "wall_total_sec", "code", "cpus")


def render_baseline(records: list[dict]) -> str:
    """BENCH/BASELINE.md from the BENCH/history.jsonl records, oldest first.
    Batch table: per-query min over the records that share the newest
    record's (code, sf, cpus), which smooths shared-host spikes without
    mixing code versions. Scaling section: the newest record that has one."""
    last = records[-1]
    cfg = (last.get("code"), last.get("sf"), last.get("cpus"))
    same = [r for r in records if (r.get("code"), r.get("sf"), r.get("cpus")) == cfg]
    lines = [
        "# BENCH/BASELINE.md — measured engine numbers",
        "",
        "Rendered by bench.py from BENCH/history.jsonl. Batch suite at"
        f" sf={last.get('sf')}, local[{last.get('cpus', '?')}], code"
        f" {last.get('code')}: per-query best of the {len(same)} run(s) of"
        " this code and config.",
        "",
        "| query | sec |",
        "| --- | --- |",
    ]
    lines += [f"| {q} | {min(r['queries'][q] for r in same if q in r['queries'])} |"
              for q in last["queries"]]
    s = next((r for r in reversed(records) if "scaling_efficiency" in r), None)
    if s:
        lines += [
            "",
            f"## Streaming scaling (code {s.get('code')}, sf={s.get('sf')})",
            "",
            "Method: [SCALE.md §8](../SCALE.md#8-scaling-evidence-north-rule)"
            " and `run_scaling` in bench.py. Target: `scaling_efficiency` >= 0.8.",
            "",
        ]
        lines += [f"- `{k}`: {json.dumps(v)}" for k, v in s.items() if k not in _BATCH_KEYS]
    return "\n".join(lines) + "\n"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]
    if "--batch-only" in sys.argv:
        print(json.dumps({"times": run_batch(sf_dir, cores)}))
        return
    t0 = time.time()
    skip_scaling = bool(os.environ.get("SPARK_GRAFT_BENCH_SKIP_SCALING"))
    # with no fleet to protect the suite stays in-process
    times = run_batch(sf_dir, cores) if skip_scaling else _run_batch_isolated(sf_dir, cores)
    scaling = {}
    if not skip_scaling:
        n_clips = int(os.environ.get("SPARK_GRAFT_BENCH_CLIPS", "480000"))
        # soft budget of the WHOLE invocation: the JSON line prints at the
        # very end, so optional phases yield rather than risk a caller kill
        budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "3300"))
        scaling = run_scaling(n_clips, deadline=t0 + budget)
    out = {
        "metric": "batch_suite_total_plus_streaming_scaling",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": float(sf),
        "wall_total_sec": round(time.time() - t0, 2),
        "cpus": cores,
        **scaling,
    }
    bench_dir = os.path.join(REPO, "BENCH")
    try:  # the JSON line below is the result; BENCH/ only records it
        os.makedirs(bench_dir, exist_ok=True)
        with open(os.path.join(bench_dir, "history.jsonl"), "a+") as f:
            f.write(json.dumps(dict(out, code=_git_head())) + "\n")
            f.seek(0)
            records = [json.loads(line) for line in f if line.strip()]
        with open(os.path.join(bench_dir, "BASELINE.md"), "w") as f:
            f.write(render_baseline(records))
    except OSError as exc:
        print(f"  BENCH/ not updated: {exc}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
