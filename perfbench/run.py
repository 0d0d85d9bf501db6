"""perfbench: one command that runs a workload and prints its metrics.

    python3 perfbench/run.py --workload clip_tumbling --seed 1 --seconds 10 --trace 0

Workloads: clip_tumbling, clip_join, ts_api (see workloads.py and README.md).
The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

With ``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
measured with tracing off; with ``--trace 1`` they are its per-layer metrics
(a layer the workload does not enter reads 0), and spans plus a per-batch
table are written under ``.perfbench/out/``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("clip_tumbling", "clip_join", "ts_api")
DRIVER_MEM = "1536m"  # heap of the driver JVM (pre-touched, so it is also its floor RSS)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _environment(cores: int) -> None:
    """Everything the program writes goes under the checkout."""
    from inputs import STATE

    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            # no hsperfdata file: the JVM would put it in /tmp whatever java.io.tmpdir says
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )


def _stop_spark() -> None:
    """Stop the session and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    if sc is not None:
        sc.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10,
                   help="nominal run length; sets input size / round count, not a timer")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=3, help="local[N] parallelism, at most nproc")
    a = p.parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import core_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout ({e})", file=sys.stderr)
        return 2
    spec = _spec()
    cores = max(1, min(a.cores, os.cpu_count() or 1))
    _environment(cores)

    import inputs
    from spans import Tracer
    import workloads as wl

    t0 = time.time()
    input_dir, digest = inputs.prepare(a.workload, a.seed, a.seconds)
    t_inputs = time.time() - t0
    print(f"perfbench: input {input_dir} sha256 {digest} ({t_inputs:.1f} s)", file=sys.stderr)

    out_dir = os.path.join(inputs.STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    tracer = Tracer(f"{a.workload}-seed{a.seed}-{int(T_START)}", enabled=bool(a.trace))
    ctx = wl.Context(a.workload, a.seed, a.seconds, cores, bool(a.trace), input_dir,
                     T_START, t_inputs, tracer, out_dir)
    try:
        res = wl.run_ts_api(ctx) if a.workload == "ts_api" else wl.run_clip(ctx)
    except Exception:
        traceback.print_exc()
        _stop_spark()
        return 1
    _stop_spark()
    tracer.write(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-spans.jsonl"))
    if a.trace:
        with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-self_s.json"), "w") as f:
            json.dump(tracer.self_times(), f, indent=1, sort_keys=True)

    # end-to-end numbers of traced runs too: their difference from untraced
    # runs is the tracing overhead (steady.py --with-trace)
    with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-e2e.json"), "w") as f:
        json.dump(res.metrics, f)
    print(f"perfbench: steps_ms {[round(x) for x in res.steps_ms]}", file=sys.stderr)
    for e in res.errors:
        print(f"perfbench: WRONG: {e}", file=sys.stderr)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = res.layers if a.trace else res.metrics
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": not res.errors, "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
