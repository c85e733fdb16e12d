"""``tools/measure.py`` end to end: one keyed-table query profiled in a
child process, which starts its own Spark session as the tool does."""

from __future__ import annotations

import json
import subprocess
import sys

from tests.conftest import REPO, SF_SMOKE

RECORD = {
    "build_s", "plan_s", "runs", "best_s", "noop_s", "fetch_s", "duck_s",
    "ratio", "trace",
}
TRACE = {
    "rows", "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_bytes", "spill_bytes", "input_bytes", "driver_s", "callsites",
    "exchanges", "broadcasts", "python_evals", "steps", "body_jobs",
}


def test_measure_attributes_every_job_to_a_step_or_the_query(tmp_path):
    out = tmp_path / "measure.json"
    proc = subprocess.run(
        [
            sys.executable, str(REPO / "tools" / "measure.py"),
            "--sf", SF_SMOKE, "--runs", "1", "--duck-runs", "0",
            "--out", str(out), "k8_table_changes",
        ],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    rec = json.loads(out.read_text())["k8_table_changes"]
    assert RECORD <= rec.keys() and TRACE <= rec["trace"].keys()
    assert len(rec["runs"]) == 1 and rec["best_s"] == rec["runs"][0] > 0
    trace, steps = rec["trace"], rec["trace"]["steps"]
    assert trace["jobs"] > 0 and len(trace["callsites"]) == trace["jobs"]
    assert sum(s["jobs"] for s in steps.values()) + trace["body_jobs"] == trace["jobs"]
    for verb in ("upsert_replace_partitions", "delete_by_keys"):
        assert steps[f"KeyedParquetTable.{verb}"]["jobs"] >= 1, steps
