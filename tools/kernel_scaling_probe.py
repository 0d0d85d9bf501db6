"""Isolate the DSP kernel from Spark: does the streaming job's decode +
spectral kernel (_decode_view_i16 + _spectral_one_i16) itself scale
from 6 pinned workers (one 8-core slice) to 24 pinned workers (four slices)?

Usage: python tools/kernel_scaling_probe.py [n_clips_per_proc]
Prints per-level aggregate clips/sec and the 4x/1x efficiency.
"""
from __future__ import annotations

import os
import sys
import time
from multiprocessing import Process, Queue

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def worker(slice_id: int, n: int, reps: int, q: Queue) -> None:
    width = 8
    os.sched_setaffinity(0, range(slice_id * width, slice_id * width + width))
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


def run_level(n_procs: int, per_slice: int, n: int, reps: int) -> float:
    q: Queue = Queue()
    procs = [
        Process(target=worker, args=(i // per_slice, n, reps, q))
        for i in range(n_procs)
    ]
    for p in procs:
        p.start()
    rates = [q.get() for _ in procs]
    for p in procs:
        p.join()
    return sum(rates)


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1500
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    r1 = run_level(6, 6, n, reps)
    r4 = run_level(24, 6, n, reps)
    print(f"1x (6 procs on slice0): {r1:.0f} clips/sec")
    print(f"4x (24 procs on slices0-3): {r4:.0f} clips/sec")
    print(f"kernel scaling efficiency: {r4 / (4 * r1):.3f}")
