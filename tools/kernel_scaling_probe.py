"""Isolate the DSP kernel from Spark: does the streaming job's decode +
spectral kernel (_decode_view_i16 + _spectral_one_i16) itself scale
from one pinned CPU slice to four?

The process's own CPUs (``os.sched_getaffinity``) are cut into four equal
disjoint slices, and each slice runs ¾ of its CPUs (at least 1) as pinned
workers: 6 per 8-CPU slice on a 32-CPU host, 1 per slice on a 4-CPU host.
Needs at least 4 CPUs. Exits 1 if a worker fails.

Usage: python tools/kernel_scaling_probe.py [n_clips_per_proc] [reps]
Prints per-level aggregate clips/sec and the 4x/1x efficiency.
"""
from __future__ import annotations

import os
import queue
import sys
import time
from multiprocessing import Process, Queue

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def worker(cpus: list[int], n: int, reps: int, q: Queue) -> None:
    os.sched_setaffinity(0, cpus)
    from core_spark import synth
    from core_spark.functions.audio import _spectral_one_i16
    from core_spark.functions.audio_arrow import _decode_view_i16
    import numpy as np

    pdf = synth.make_clips_pdf(n, start=0)
    payloads = [np.frombuffer(b, dtype=np.uint8) for b in pdf["bytes"]]
    codecs = pdf["codec"].tolist()
    srs = pdf["sr_hz"].tolist()
    # warm
    for i in range(min(50, n)):
        _spectral_one_i16(_decode_view_i16(payloads[i], codecs[i]), int(srs[i]))
    t0 = time.time()
    for _ in range(reps):
        for i in range(n):
            _spectral_one_i16(_decode_view_i16(payloads[i], codecs[i]), int(srs[i]))
    q.put(n * reps / (time.time() - t0))


def cpu_slices() -> list[list[int]]:
    """This process's CPUs cut into four equal disjoint slices."""
    cpus = sorted(os.sched_getaffinity(0))
    if len(cpus) < 4:
        sys.exit(f"kernel_scaling_probe needs at least 4 CPUs, has {len(cpus)}")
    width = len(cpus) // 4
    return [cpus[k * width : (k + 1) * width] for k in range(4)]


def run_level(slices: list[list[int]], per_slice: int, n: int, reps: int) -> float:
    q: Queue = Queue()
    procs = [
        Process(target=worker, args=(cpus, n, reps, q))
        for cpus in slices
        for _ in range(per_slice)
    ]
    for p in procs:
        p.start()
    rates: list[float] = []
    while len(rates) < len(procs):
        try:
            rates.append(q.get(timeout=1.0))
        except queue.Empty:
            failed = [p.exitcode for p in procs if p.exitcode not in (None, 0)]
            if failed:
                for p in procs:
                    p.terminate()
                print(f"worker exited with code {failed[0]}", file=sys.stderr)
                sys.exit(1)
    for p in procs:
        p.join()
    return sum(rates)


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1500
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    slices = cpu_slices()
    per_slice = max(1, len(slices[0]) * 3 // 4)
    r1 = run_level(slices[:1], per_slice, n, reps)
    r4 = run_level(slices, per_slice, n, reps)
    print(f"1x ({per_slice} procs on slice 0): {r1:.0f} clips/sec")
    print(f"4x ({4 * per_slice} procs on slices 0-3): {r4:.0f} clips/sec")
    print(f"kernel scaling efficiency: {r4 / (4 * r1):.3f}")
