"""scripts/profile_catalog.py: one traced record and one plan per entry."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

from tests.conftest import SF_SMALL

SCRIPT = Path(__file__).resolve().parents[1] / "scripts" / "profile_catalog.py"
FIELDS = {
    "name", "build_s", "run_s", "jobs_build", "jobs_run", "stages", "tasks",
    "executor_run_s", "executor_cpu_s", "shuffle_bytes", "spill_bytes",
    "driver_gap_s", "trace_overhead_s",
}


def test_profile_catalog_records_layers(spark, monkeypatch, tmp_path):
    spec = importlib.util.spec_from_file_location("profile_catalog", SCRIPT)
    script = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(script)
    monkeypatch.chdir(tmp_path)
    names = ["topk_orders", "recursive_cte_hierarchy"]
    script.profile(spark, SF_SMALL, names, "t")

    records = json.loads((tmp_path / "PROFILE_t.json").read_text())["records"]
    assert [r["name"] for r in records] == names
    for r in records:
        assert set(r) == FIELDS
        assert 0 <= r["driver_gap_s"] <= r["build_s"] + r["run_s"]
        plan = (tmp_path / "plans" / "t" / f"{r['name']}.txt").read_text()
        assert "== Physical Plan ==" in plan
    by_name = {r["name"]: r for r in records}
    assert by_name["topk_orders"]["jobs_run"] == 1
    # a driver loop: one job per recursion step at least
    assert by_name["recursive_cte_hierarchy"]["jobs_run"] >= 2
