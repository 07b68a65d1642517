"""Smoke runs of the scripts in ``scripts/``, each in its own process at
sf0.001: the registry sweep's record, the driver replica's hash check and
the plan capture's output file."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

_SCRIPTS = Path(__file__).resolve().parent.parent / "scripts"

#: every field of a registry_sweep record
_RECORD = {
    "build_ms", "plan_ms", "exec_ms", "jobs", "scans", "py_nodes",
    "reused_exchanges", "exchanges", "nested_loop_joins", "batches",
}


def _run(
    sf_dir: str, script: str, *args: str, cwd: Path | None = None
) -> subprocess.CompletedProcess:
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", "2"),
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "SPARK_GRAFT_REPLICA_SF_DIR": sf_dir,
    }
    return subprocess.run(
        [sys.executable, str(_SCRIPTS / script), *args],
        env=env, capture_output=True, text=True, timeout=300, cwd=cwd,
    )


def test_registry_sweep_records(sf_dir, tmp_path):
    out = tmp_path / "sweep.json"
    names = "pricing_summary,stream_tumbling_live"
    p = _run(sf_dir, "registry_sweep.py", str(out), "--names", names, "--reps", "1")
    assert p.returncode == 0, p.stdout + p.stderr
    recs = json.loads(out.read_text())["queries"]
    assert sorted(recs) == sorted(names.split(","))
    for name, rec in recs.items():
        assert set(rec) == _RECORD, name
    assert recs["pricing_summary"]["batches"] == []
    assert recs["stream_tumbling_live"]["batches"], "live query ran no batch"
    for batch in recs["stream_tumbling_live"]["batches"]:
        assert "triggerExecution" in batch["durationMs"]
        assert batch["stateOperators"], "tumbling window keeps no state"


def test_driver_replica_hash_green(sf_dir):
    p = _run(sf_dir, "driver_replica.py", "pricing_summary")
    assert p.returncode == 0, p.stdout + p.stderr
    assert "pricing_summary: hash-ok" in p.stdout


def test_capture_plans_writes_plan(sf_dir, tmp_path):
    """Run from a directory outside the repo: ``pipeline_geojson_e2e``'s
    build runs a pandas UDF, whose Python worker must import the
    package."""
    out = tmp_path / "plans"
    p = _run(
        sf_dir, "capture_plans.py", str(out), "pricing_summary", "pipeline_geojson_e2e",
        cwd=tmp_path,
    )
    assert p.returncode == 0, p.stdout + p.stderr
    for name in ("pricing_summary", "pipeline_geojson_e2e"):
        assert "== Physical Plan ==" in (out / f"{name}.txt").read_text(), name
