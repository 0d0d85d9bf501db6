"""Scaling-efficiency diagnosis: one lo + one fleet rep of the streaming
job under a configurable variation, reporting the pair efficiency.

Usage: python tools/scaling_probe.py [--spectral 0|1] [--n-clips N]
           [--files-per-trigger F] [--mode tumbling|join|sessions]

Used to attribute the N-vs-4N efficiency gap to a pipeline stage: run with
--spectral 0 to drop the FFT stage, smaller --n-clips for a quick signal,
etc. Reuses bench.py's pinned/tmpfs/barrier harness so numbers are
comparable with the committed artifact.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import json as _json
import subprocess

import bench  # noqa: E402


def _run_job_verbose(cmd, heap=None, tag=""):
    """bench._run_job + stderr passthrough (per-batch durations)."""
    env = dict(os.environ, PYTHONPATH=REPO)
    if heap:
        env["SPARK_GRAFT_DRIVER_MEM"] = heap
    out = subprocess.run(
        cmd, cwd=REPO, env=env, capture_output=True, text=True, timeout=3600
    )
    for l in out.stderr.splitlines():
        if "batch " in l or "WARN" not in l and "durationMs" in l:
            print(f"  [{tag}] {l.strip()}", file=sys.stderr)
    line = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not line:
        raise RuntimeError(f"job failed: {cmd}\n{out.stderr[-2000:]}")
    return _json.loads(line[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spectral", type=int, default=1)
    ap.add_argument("--n-clips", type=int, default=1440000)
    ap.add_argument("--files-per-trigger", type=int, default=112)
    ap.add_argument("--mode", default="tumbling")
    ap.add_argument("--salt", type=int, default=8)
    ap.add_argument("--cores-lo", type=int, default=6)
    args = ap.parse_args()

    work = bench._bench_root()
    heap = bench.SF_HEAP  # the local[6] heap of bench.py's spec-form pairs
    in_dir = bench._synth_input(args.n_clips, 112)

    def cmd(cores, wdir, cpuset, bdir=None, bcount=1):
        c = bench._job_cmd(
            cores, args.n_clips, wdir, in_dir,
            files_per_trigger=args.files_per_trigger,
            cpuset=cpuset, barrier_dir=bdir, barrier_count=bcount,
        )
        # patch mode/salt/spectral onto the canonical command
        def setopt(cmd, flag, val):
            if flag in cmd:
                cmd[cmd.index(flag) + 1] = str(val)
            else:
                cmd += [flag, str(val)]
        setopt(c, "--mode", args.mode)
        setopt(c, "--salt", args.salt)
        setopt(c, "--spectral", args.spectral)
        return c

    lo_dir = os.path.join(work, "probe_lo")
    r_lo = _run_job_verbose(cmd(args.cores_lo, lo_dir, bench._slice(0)), heap=heap, tag="lo")
    shutil.rmtree(lo_dir, ignore_errors=True)
    print(f"lo: {r_lo}", file=sys.stderr)

    bdir = os.path.join(work, "probe_barrier")
    shutil.rmtree(bdir, ignore_errors=True)
    cmds = [
        cmd(args.cores_lo, os.path.join(work, f"probe_fleet_{i}"),
            bench._slice(i), bdir, 4)
        for i in range(4)
    ]

    def run(arg):
        i, c = arg
        time.sleep(1.0 * i)
        return _run_job_verbose(c, heap=heap, tag=f"f{i}")

    with ThreadPoolExecutor(max_workers=4) as ex:
        rs = list(ex.map(run, enumerate(cmds)))
    for i in range(4):
        shutil.rmtree(os.path.join(work, f"probe_fleet_{i}"), ignore_errors=True)
    shutil.rmtree(bdir, ignore_errors=True)

    fleet = round(sum(r["clips_per_sec"] for r in rs), 1)
    fleet_steady = round(sum(r["clips_per_sec_steady"] or 0 for r in rs), 1)
    out = {
        "spectral": args.spectral,
        "mode": args.mode,
        "n_clips": args.n_clips,
        "files_per_trigger": args.files_per_trigger,
        "lo": r_lo["clips_per_sec"],
        "lo_steady": r_lo["clips_per_sec_steady"],
        "fleet": fleet,
        "fleet_steady": fleet_steady,
        "pair_eff": round(fleet / (4.0 * r_lo["clips_per_sec"]), 3),
        "pair_eff_steady": (
            round(fleet_steady / (4.0 * r_lo["clips_per_sec_steady"]), 3)
            if r_lo.get("clips_per_sec_steady")
            else None
        ),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
