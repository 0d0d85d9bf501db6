"""BENCH/BASELINE.md is rendered from BENCH/history.jsonl (bench.render_baseline)."""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def _rec(code, q, cpus=None, **extra):
    r = {"metric": "m", "value": 0.0, "unit": "sec", "queries": q, "sf": 0.1,
         "wall_total_sec": 1.0, "code": code, **extra}
    if cpus is not None:
        r["cpus"] = cpus
    return r


def _table(md: str) -> dict[str, float]:
    return {
        line.split(" | ")[0][2:]: float(line.split(" | ")[1].rstrip(" |"))
        for line in md.splitlines()
        if line.startswith("| ") and not line.startswith(("| query", "| ---"))
    }


def test_committed_baseline_is_the_rendering_of_history():
    with open(os.path.join(REPO, "BENCH", "history.jsonl")) as f:
        records = [json.loads(line) for line in f if line.strip()]
    with open(os.path.join(REPO, "BENCH", "BASELINE.md")) as f:
        committed = f.read()
    assert bench.render_baseline(records) == committed
    assert _table(committed) == records[-1]["queries"]
    assert len(_table(committed)) == 23


def test_batch_table_is_min_over_same_code_sf_and_cpus():
    records = [
        _rec("aaa", {"q1": 1.0, "q2": 2.0}, cpus=4),
        _rec("bbb", {"q1": 0.1, "q2": 0.1}, cpus=4),  # other code
        _rec("bbb", {"q1": 0.2, "q2": 0.2}),  # same code, no cpus
        _rec("bbb", {"q1": 0.5, "q2": 0.9}, cpus=4),
        _rec("bbb", {"q1": 0.7, "q2": 0.3}, cpus=4),
    ]
    md = bench.render_baseline(records)
    assert _table(md) == {"q1": 0.1, "q2": 0.1}
    assert "local[4], code bbb" in md and "best of the 3 run(s)" in md
    # a record without cpus matches only records without cpus
    md = bench.render_baseline(records + [_rec("bbb", {"q1": 0.4, "q2": 0.4})])
    assert _table(md) == {"q1": 0.2, "q2": 0.2}
    assert "local[?]" in md


def test_scaling_section_comes_from_newest_record_that_has_one():
    records = [
        _rec("aaa", {"q1": 1.0}, scaling_efficiency=0.91, clips_per_sec=10.0),
        _rec("bbb", {"q1": 1.0}, scaling_efficiency=0.95, clips_per_sec=20.0,
             host_probe_rates={"lo": [1.0], "fleet": [2.0]}),
        _rec("ccc", {"q1": 1.0}),  # skip-scaling run
    ]
    md = bench.render_baseline(records)
    assert "## Streaming scaling (code bbb, sf=0.1)" in md
    assert "- `scaling_efficiency`: 0.95" in md
    assert '- `host_probe_rates`: {"lo": [1.0], "fleet": [2.0]}' in md
    assert "SCALE.md" in md
    assert "0.91" not in md
    assert "## Streaming scaling" not in bench.render_baseline(records[2:])
