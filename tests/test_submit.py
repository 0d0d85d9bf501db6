"""North-rule packaging evidence: the streaming CEP job runs under real
`spark-submit --py-files <core_spark.zip>` (tools/submit.sh), i.e. the exact
deployment shape the rule prescribes for a multi-executor cluster — only
--master differs there. The job must come up in a fresh JVM with the engine
importable solely from the zip archive, drain its stream, and print its
metrics JSON line.
"""

import json
import os
import shutil
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_pyfiles_runs_job(tmp_path):
    if not shutil.which("zip"):
        pytest.skip("zip not available")
    env = dict(os.environ)
    # the zip must be the ONLY way the job finds core_spark in the workers
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [
            os.path.join(REPO, "tools", "submit.sh"),
            "--cores", "4", "--mode", "tumbling",
            "--n-clips", "4000", "--batches", "2", "--files-per-trigger", "4",
            "--shuffle-partitions", "4",
            "--work", str(tmp_path / "run"),
        ],
        cwd=str(tmp_path),  # NOT the repo root: no cwd fallback import
        env=env,
        capture_output=True,
        text=True,
        timeout=570,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert lines, f"no metrics line\nstdout:{out.stdout[-1500:]}\nstderr:{out.stderr[-1500:]}"
    m = json.loads(lines[-1])
    assert set(m) == {
        "mode", "cores", "n_clips", "rows_out", "wall_sec", "clips_per_sec",
        "clips_per_sec_steady", "n_batches", "batch_ms_p50", "batch_ms_p99",
        "lineage_commits", "state_rows", "state_bytes", "state_cur_bytes",
        "state_series",
    }
    assert m["n_clips"] == 4000
    assert m["rows_out"] > 0
    assert m["lineage_commits"] >= 1
    # the fields derived from the query's progress log
    assert m["batch_ms_p50"] <= m["batch_ms_p99"]
    assert len(m["state_series"]) >= 1
    assert m["clips_per_sec_steady"] >= m["clips_per_sec"]
