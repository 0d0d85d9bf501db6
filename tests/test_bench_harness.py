"""bench.py orchestration against canned job results.

No JVM, no pinned fleet and no host control runs here: `_run_job`, the two
host calibrations, the reserved-core probe and the batch suite are replaced
by fakes that return dicts shaped like the real ones. What is checked is the
harness itself: the JSON line's key tree (against the records in
BENCH/history.jsonl), the probe gate of the spec-form pairs, and which
phases a spent deadline still runs. Every file bench.py writes goes under
pytest's tmp_path; the repository's BENCH/ is checked to be untouched.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

HISTORY = os.path.join(REPO, "BENCH", "history.jsonl")


def _records() -> list[dict]:
    with open(HISTORY) as f:
        return [json.loads(line) for line in f if line.strip()]


def _newest(pred) -> dict:
    return [r for r in _records() if pred(r)][-1]


FULL = _newest(lambda r: "scaling_efficiency" in r)
SKIP = _newest(lambda r: "scaling_efficiency" not in r)


def _union(a, b):
    if isinstance(a, dict) and isinstance(b, dict):
        out = dict(a)
        for k, v in b.items():
            out[k] = _union(out[k], v) if k in out else v
        return out
    return a if a is not None else b


def _tree(v):
    """Recursive dict-key tree: dicts keep their keys, a list of dicts is
    the union of its elements' trees, every other value is a leaf."""
    if isinstance(v, dict):
        return {k: _tree(x) for k, x in v.items()}
    if isinstance(v, list):
        out = None
        for x in v:
            if isinstance(x, dict):
                out = _union(out, _tree(x))
        return out
    return None


def _digest(path: str) -> str | None:
    if not os.path.exists(path):
        return None
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _opt(cmd: list[str], flag: str) -> str | None:
    return cmd[cmd.index(flag) + 1] if flag in cmd else None


class FakeHost:
    """Stands in for every process bench.py would start.

    A job's result depends on its command line only. The probe reads 1000
    in every window except a spec-form (local[6]) fleet's, which reads
    1000 x the next value of `sf_ratios`."""

    def __init__(self, sf_ratios=(0.9, 0.95, 0.9, 0.95, 0.9)):
        self.sf_ratios = list(sf_ratios)
        self.jobs: list[dict] = []
        self.last: dict | None = None

    def run_job(self, cmd, heap=None):
        if "--synth-only" in cmd:
            in_dir = _opt(cmd, "--input")
            os.makedirs(in_dir, exist_ok=True)
            with open(os.path.join(in_dir, "part-00000.parquet"), "wb") as f:
                f.write(b"\0" * 64)
            self.jobs.append({"kind": "synth", "n_clips": int(_opt(cmd, "--n-clips"))})
            return {}
        job = {
            "cores": int(_opt(cmd, "--cores")),
            "n_clips": int(_opt(cmd, "--n-clips")),
            "mode": _opt(cmd, "--mode"),
            "fpt": int(_opt(cmd, "--files-per-trigger")),
            "fleet": "--barrier-dir" in cmd,
            "heap": heap,
        }
        self.jobs.append(job)
        self.last = job
        rate = 1000.0 * job["cores"] * (0.95 if job["fleet"] else 1.0)
        return {
            "n_clips": job["n_clips"],
            "wall_sec": job["n_clips"] / rate,
            "clips_per_sec": rate,
            "clips_per_sec_steady": rate * 1.02,
            "n_batches": 3,
            "batch_ms_p50": 1000,
            "batch_ms_p99": 1200,
            "state_rows": 100,
            "state_bytes": 61000,
            "state_cur_bytes": 60000,
            "rows_out": 42,
        }

    def start_probe(self):
        return object()

    def stop_probe(self, p):
        last = self.last or {}
        if last.get("cores") == 6 and last.get("fleet"):
            return 1000.0 * self.sf_ratios.pop(0)
        return 1000.0

    def phases(self) -> list[str]:
        """Job kinds in run order, one entry per run (a fleet counts once)."""
        full_n = FULL_N_CLIPS
        out: list[str] = []
        fleet_seen = 0
        for j in self.jobs:
            if j.get("kind") == "synth":
                continue
            if j["fleet"]:
                fleet_seen += 1
                if fleet_seen % 4 != 1:
                    continue
            if j["cores"] == 6:
                kind = "specform_fleet" if j["fleet"] else "specform_lo"
            elif j["mode"] != "tumbling":
                kind = f"mode_{j['mode']}"
            elif j["n_clips"] != full_n:
                kind = "data_scaling"
            elif j["fpt"] != 112:
                kind = f"latency_{j['fpt']}"
            else:
                kind = "pair_fleet" if j["fleet"] else "pair_lo"
            out.append(kind)
        return out


FULL_N_CLIPS = 480000


@pytest.fixture
def run_bench(tmp_path, monkeypatch, capsys):
    """Returns run(host, **env) -> (printed JSON, history record, host)."""
    before = {p: _digest(os.path.join(REPO, "BENCH", p)) for p in ("history.jsonl", "BASELINE.md")}
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_BENCH_"):
            monkeypatch.delenv(k)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_WORK", str(tmp_path / "work"))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_CLIPS", str(FULL_N_CLIPS))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path / "sf0.1"))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    monkeypatch.setattr(bench, "host_cpu_calibration", lambda: dict(FULL["host_cpu_calibration"]))
    monkeypatch.setattr(bench, "host_membw_calibration", lambda: dict(FULL["host_membw_calibration"]))

    def run(host: FakeHost, queries: dict, **env):
        for k, v in env.items():
            monkeypatch.setenv(k, v)
        monkeypatch.setattr(bench, "_run_job", host.run_job)
        monkeypatch.setattr(bench, "_start_host_probe", host.start_probe)
        monkeypatch.setattr(bench, "_stop_host_probe", host.stop_probe)
        monkeypatch.setattr(bench, "_run_batch_isolated", lambda sf_dir, cores: dict(queries))
        monkeypatch.setattr(bench, "run_batch", lambda sf_dir, cores: dict(queries))
        bench.main()
        printed = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
        assert len(printed) == 1
        with open(tmp_path / "BENCH" / "history.jsonl") as f:
            hist = [json.loads(l) for l in f if l.strip()]
        assert len(hist) == 1
        assert (tmp_path / "BENCH" / "BASELINE.md").exists()
        return json.loads(printed[0]), hist[0], host

    yield run
    after = {p: _digest(os.path.join(REPO, "BENCH", p)) for p in ("history.jsonl", "BASELINE.md")}
    assert after == before, "bench.py wrote to the repository's BENCH/"


def _assert_tree_matches(printed: dict, hist: dict, record: dict) -> None:
    assert set(printed) == set(hist) - {"code"}
    got, want = _tree(hist), _tree(record)
    for tree in (got, want):
        tree.pop("cpus", None)  # the one key older records lack
    assert got == want


def test_full_run_key_tree_matches_newest_full_record(run_bench):
    # one throttled spec-form pair (discarded and re-run), as in the record
    host = FakeHost(sf_ratios=[0.85, 0.69, 0.9, 0.95])
    printed, hist, host = run_bench(host, FULL["queries"])
    _assert_tree_matches(printed, hist, FULL)
    assert hist["scaling_efficiency"] == pytest.approx(0.95)
    # phase priority: headline pairs, latency knee then the fpt=28 tail,
    # data scaling, mode sweep, spec-form pairs, extra pairs
    assert host.phases() == (
        ["pair_lo", "pair_fleet"] * 3
        + ["latency_14", "latency_7", "latency_28"]
        + ["data_scaling"] * 2
        + ["mode_sessions", "mode_join"]
        + ["specform_lo", "specform_fleet"] * 4
        + ["pair_lo", "pair_fleet"] * 2
    )


def test_skip_scaling_key_tree_matches_newest_skip_record(run_bench):
    printed, hist, host = run_bench(
        FakeHost(), SKIP["queries"], SPARK_GRAFT_BENCH_SKIP_SCALING="1"
    )
    _assert_tree_matches(printed, hist, SKIP)
    assert host.jobs == []


def test_probe_gate_discards_once_then_flags(run_bench):
    # 0.69 is outside [0.7, 1.43]: discarded and re-run; the next dirty
    # pair (1.5, the lo window throttled) finds the retry spent and is kept
    host = FakeHost(sf_ratios=[0.69, 1.5, 0.9, 0.95])
    printed, hist, host = run_bench(host, FULL["queries"])
    sp = hist["specform_pair"]
    assert [p["rep"] for p in sp["discarded_pairs"]] == [0]
    assert sp["discarded_pairs"][0]["probe_ratio"] == 0.69
    assert sp["discarded_pairs"][0]["discarded_throttle_window"] is True
    assert [p["rep"] for p in sp["pairs"]] == [1, 2, 3]
    assert sp["pairs"][0]["probe_ratio"] == 1.5
    assert sp["pairs"][0]["throttle_window_unretried"] is True
    assert not any("throttle_window_unretried" in p for p in sp["pairs"][1:])
    assert sp["clean_pair_count"] == 3
    assert host.phases().count("specform_fleet") == 4


def test_spent_deadline_runs_only_the_graded_minimum(run_bench):
    printed, hist, host = run_bench(
        FakeHost(), FULL["queries"], SPARK_GRAFT_BENCH_BUDGET_SEC="0"
    )
    assert host.phases() == ["pair_lo", "pair_fleet"] * 3 + ["latency_14"]
    assert [p["files_per_trigger"] for p in hist["latency_sweep"]] == [14]
    assert hist["window_close_p99_ms"] == 1200
    for key in ("data_scaling", "peak_fleet", "mode_sweep", "specform_pair"):
        assert hist[key] is None, key
    assert "clips_per_sec_peak" not in hist
    assert len(hist["scaling_reps"]["lo"]) == 3
