"""Measurement plumbing: spans, the progress listener, job counts and the
resident-memory sampler.

Everything here observes the program from outside: spans are recorded around
calls into its modules, progress comes from a ``StreamingQueryListener`` the
benchmark registers (``recentProgress`` keeps only the last 100 updates), job
counts come from job groups through ``statusTracker``, and memory is read from
``/proc``.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out when
    the run ends. ``enabled=False`` makes every call a no-op, so the timed
    code path is the same with tracing on and off."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def add(self, name: str, start: float, end: float, parent: str | None = None,
            span_id: str | None = None, **attrs) -> str:
        sid = span_id or f"{name}#{len(self.spans)}"
        if self.enabled:
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": end,
                     "parent": parent, "run": self.run_id, **attrs}
                )
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the block; its parent is the enclosing span of this thread."""
        stack = self._local.__dict__.setdefault("stack", [])
        sid = f"{name}#{time.perf_counter_ns()}"
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.time()
        try:
            yield sid
        finally:
            stack.pop()
            self.add(name, t0, time.time(), parent, sid, **attrs)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - child.get(s["id"], 0.0)
            )
        return out

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class ProgressListener(StreamingQueryListener):
    """Collects every progress event of every query in this session."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._cv:
            self.progress.append(json.loads(event.progress.json))
            self._cv.notify_all()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def wait_for(self, run_id: str, n_batches: int, timeout: float = 30.0) -> list[dict]:
        """Progress events of one query, once all ``n_batches`` arrived (the
        listener bus delivers them asynchronously)."""
        deadline = time.time() + timeout
        with self._cv:
            while True:
                got = [p for p in self.progress if p["runId"] == run_id]
                if len(got) >= n_batches or time.time() > deadline:
                    return sorted(got, key=lambda p: p["batchId"])
                self._cv.wait(0.1)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split between the
    processes sharing them (Python workers fork from one daemon, so summing
    plain RSS would count the daemon's pages once per worker)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for e in os.listdir("/proc"):
        if not e.isdigit():
            continue
        try:
            with open(f"/proc/{e}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(e))
    return kids


def tree_rss_mb(root: int) -> float:
    """Resident memory (PSS) of ``root`` and all its descendants, in MB."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        total += _pss_kb(p)
        todo.extend(kids.get(p, []))
    return total / 1024.0


class RssSampler:
    """Samples the JVM + Python worker tree every ``period`` seconds and keeps
    the peak of the sum."""

    def __init__(self, root_pid: int, period: float = 0.1) -> None:
        self.root = root_pid
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))


def job_ids(spark, group: str) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
