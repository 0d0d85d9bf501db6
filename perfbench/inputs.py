"""Seeded inputs for the perfbench workloads.

Every input is a pure function of (workload, seed, seconds). The program only
ever sees the files written here.

Clips come from ``core_spark.synth``'s generator with these parameters:

- ``disorder_ms=20_000``: out-of-orderness stays below the job's 30 s
  watermark delay, so every ordinary clip is on time;
- ``late_every=100, late_by_ms=-900_000``: a 1% straggler share placed 15 min
  *behind* its neighbours. That is further back than one tumbling trigger
  spans (2,000 clips x 200 ms = 400 s) plus the watermark delay, so once a
  watermark is in force a straggler is always behind it. synth's defaults
  (``late_by_ms=+600_000`` and gap blocks shifted by +1,800 s) move those rows
  *forward* in event time instead, which advances the watermark past most of
  the on-time clips;
- ``gap_len=0``: no gap blocks.

Files are written one at a time in index order, each with a strictly larger
mtime than the one before: Spark's file stream orders input by mtime, and
this makes each row's micro-batch a function of its index.

Run as a command to regenerate a workload's input from its seed into a fresh
directory and print its content hash:

    python3 perfbench/inputs.py --workload clip_tumbling --seed 3 --seconds 15
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")  # input cache + work dirs, git-ignored

CLIP_PARAMS = dict(
    step_ms=200,
    disorder_ms=20_000,
    late_every=100,
    late_by_ms=-900_000,
    gap_every=1_000_000,
    gap_len=0,
)
MTIME0 = 1_700_000_000  # first input file's mtime; file k gets MTIME0 + k

EVENT_TAGS = ["click", "error", "purchase", "signup", "view"]
EVENT_ROWS = 100_000
EVENT_START = datetime(2024, 1, 1)
EVENT_SPAN_S = 30 * 86400


def clip_shape(workload: str, seconds: int) -> dict:
    """Files, clips per file and files per trigger of a clip workload.

    Run length is fixed by input size: the number of triggers grows with
    ``seconds`` at a rate measured on a 4-core host, so every host does the
    same work. clip_tumbling drains at least three large triggers (2,000
    clips) so decode dominates a batch, and so the third trigger's
    stragglers meet a late-event watermark (which lags eviction by one
    batch, so the first two triggers drop nothing); clip_join drains one
    125-clip file per trigger so per-batch fixed cost, join state and the
    sink's merge path dominate. The job warms up on its first
    max(files_per_trigger, 8) files, which small files keep short.
    """
    if workload == "clip_tumbling":
        triggers = max(3, round(seconds / 10))
        return {"clips_per_file": 250, "files_per_trigger": 8, "n_files": 8 * triggers}
    if workload == "clip_join":
        triggers = max(3, round(seconds / 6.5))
        return {"clips_per_file": 125, "files_per_trigger": 1, "n_files": triggers}
    raise ValueError(f"not a clip workload: {workload}")


# ------------------------------------------------------------------ writers


def _clips_schema() -> pa.Schema:
    return pa.schema(
        [
            pa.field("clip_id", pa.string(), nullable=False),
            pa.field("bytes", pa.binary(), nullable=False),
            pa.field("sr_hz", pa.int32(), nullable=False),
            pa.field("dur_ms", pa.int32(), nullable=False),
            pa.field("codec", pa.string(), nullable=False),
            pa.field("transcript", pa.string(), nullable=False),
            pa.field("ingest_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        ]
    )


def clips_table(lo: int, hi: int, seed: int) -> pa.Table:
    """Clips [lo, hi) as ``synth.make_clips_pdf`` generates them."""
    from core_spark import synth

    pdf = synth.make_clips_pdf(hi - lo, seed, start=lo, **CLIP_PARAMS)
    return pa.Table.from_pandas(pdf, preserve_index=False).cast(_clips_schema())


def _epoch_us(ts: datetime) -> int:
    return (ts - datetime(1970, 1, 1)) // timedelta(microseconds=1)


def corrections_table(n: int, seed: int) -> pa.Table:
    from core_spark import synth

    pdf = synth.make_corrections_pdf_range(0, n, seed=seed, **CLIP_PARAMS)
    us = np.array([_epoch_us(t) for t in pdf["correction_ts"]], dtype=np.int64)
    return pa.Table.from_arrays(
        [
            pa.array(pdf["clip_id"].tolist(), pa.string()),
            pa.array(pdf["corrected_transcript"].tolist(), pa.string()),
            pa.array(us, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        ],
        schema=pa.schema(
            [
                pa.field("clip_id", pa.string(), nullable=False),
                pa.field("corrected_transcript", pa.string(), nullable=False),
                pa.field("correction_ts", pa.timestamp("us", tz="UTC"), nullable=False),
            ]
        ),
    )


def events_table(seed: int) -> pa.Table:
    """An ``events`` table shaped like the repository's sf0.1 testdata:
    100k rows, 5 tags, 30 days of January 2024, 2-decimal values."""
    rng = np.random.default_rng(seed)
    ts_us = np.sort(rng.integers(0, EVENT_SPAN_S * 1_000_000, EVENT_ROWS)) + _epoch_us(EVENT_START)
    tags = np.array(EVENT_TAGS)[rng.integers(0, len(EVENT_TAGS), EVENT_ROWS)]
    values = np.round(rng.lognormal(3.5, 1.0, EVENT_ROWS), 2)
    return pa.Table.from_arrays(
        [
            pa.array(np.arange(EVENT_ROWS, dtype=np.int64)),
            pa.array(ts_us, pa.int64()).cast(pa.timestamp("us")),
            pa.array(rng.integers(0, 2000, EVENT_ROWS), pa.int64()),
            pa.array(tags.tolist(), pa.string()),
            pa.array(values, pa.float64()),
            pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENT_ROWS)], pa.string()),
        ],
        names=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )


def _write(table: pa.Table, path: str, mtime: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    os.utime(path, (mtime, mtime))


def generate(workload: str, seed: int, seconds: int, out: str) -> None:
    """Write a workload's input under ``out`` (which must not exist)."""
    os.makedirs(out)
    if workload == "ts_api":
        _write(events_table(seed), os.path.join(out, "events.parquet"), MTIME0)
        return
    shape = clip_shape(workload, seconds)
    per = shape["clips_per_file"]
    for f in range(shape["n_files"]):
        _write(
            clips_table(f * per, (f + 1) * per, seed),
            os.path.join(out, "clips", f"part-{f:05d}.parquet"),
            MTIME0 + f,
        )
    if workload == "clip_join":
        n = per * shape["n_files"]
        _write(
            corrections_table(n, seed),
            os.path.join(out, "corrections", "part-00000.parquet"),
            MTIME0,
        )


def content_hash(root: str) -> str:
    """sha256 over every file's relative path, mtime and bytes, in path order."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            h.update(str(int(os.stat(p).st_mtime)).encode() + b"\0")
            with open(p, "rb") as f:
                for block in iter(lambda: f.read(1 << 22), b""):
                    h.update(block)
    return h.hexdigest()


def prepare(workload: str, seed: int, seconds: int) -> tuple[str, str]:
    """Return (input dir, content hash), generating the input if it is not
    cached. A cached input is re-hashed and must match the hash recorded
    when it was generated. Other seeds' cached inputs of the workload are
    removed so the cache stays one input per workload."""
    name = f"{workload}-s{seconds}-seed{seed}"
    cache = os.path.join(STATE, "inputs")
    d = os.path.join(cache, name)
    manifest = d + ".json"
    if os.path.isdir(cache):
        for e in os.listdir(cache):
            if e.startswith(workload + "-") and e not in (name, name + ".json"):
                p = os.path.join(cache, e)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    if os.path.exists(manifest):
        with open(manifest) as f:
            want = json.load(f)["sha256"]
        got = content_hash(d)
        if got != want:
            raise RuntimeError(f"cached input {d} hashes to {got}, recorded {want}")
        return d, got
    if os.path.isdir(d):
        shutil.rmtree(d)
    generate(workload, seed, seconds, d)
    digest = content_hash(d)
    with open(manifest, "w") as f:
        json.dump({"workload": workload, "seed": seed, "seconds": seconds, "sha256": digest}, f)
    return d, digest


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["clip_tumbling", "clip_join", "ts_api"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    a = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    out = os.path.join(STATE, "regen", f"{a.workload}-s{a.seconds}-seed{a.seed}")
    if os.path.isdir(out):
        shutil.rmtree(out)
    generate(a.workload, a.seed, a.seconds, out)
    digest = content_hash(out)
    shutil.rmtree(out)
    print(digest)
    return 0


if __name__ == "__main__":
    sys.exit(main())
