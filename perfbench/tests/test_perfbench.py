"""The benchmark's own tests: its declared metrics, tiny runs of each workload,
seeded inputs, the spread rule, and a clean failure without the program.

    python -m pytest perfbench/tests -q

The tiny runs start a SparkSession each (about half a minute apiece).
"""

from __future__ import annotations

import filecmp
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import inputs, metrics, run, steady  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_benchmark_json_declares_what_run_prints():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == metrics.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace):
    r = steady.run_once(workload, seed=3, seconds=1, trace=trace, extra=["--tiny"])
    assert r["returncode"] == 0, r["stderr"][-3000:]
    result = r["result"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    expected = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_same_seed_same_inputs(tmp_path):
    a = inputs.write_tracking(tmp_path / "a", inputs.LAKE_TINY, seed=7)
    b = inputs.write_tracking(tmp_path / "b", inputs.LAKE_TINY, seed=7)
    c = inputs.write_tracking(tmp_path / "c", inputs.LAKE_TINY, seed=8)
    for name in ("csv/tracking_camel.csv", "csv/tracking_snake.csv", "upsert_snake.csv"):
        assert filecmp.cmp(tmp_path / "a" / name, tmp_path / "b" / name, shallow=False)
        assert not filecmp.cmp(tmp_path / "a" / name, tmp_path / "c" / name, shallow=False)
    assert a.game_ids == b.game_ids and a.csv_bytes == b.csv_bytes
    rows = inputs.CATALOG_ROWS_TINY
    inputs.write_catalog_tables(tmp_path / "sa", rows, seed=7)
    inputs.write_catalog_tables(tmp_path / "sb", rows, seed=7)
    for table in rows:
        assert filecmp.cmp(
            tmp_path / "sa" / f"{table}.parquet", tmp_path / "sb" / f"{table}.parquet",
            shallow=False,
        )


def test_spread_is_quartile_distance_over_median():
    assert steady.spread([10.0] * 10) == 0.0
    values = [9.0, 9.5, 10.0, 10.0, 10.0, 10.0, 10.0, 10.5, 11.0, 30.0]
    s = steady.spread(values)
    assert 0.0 < s < 0.1  # one outlier does not move the quartiles much
    runs = [{"result": {"metrics": {"bulk_s": {"value": v}}}} for v in values]
    summary = steady.summarize(runs, [{"name": "bulk_s", "bound": 0.2}])["bulk_s"]
    assert summary["median"] == 10.0
    assert summary["within"] == (s <= 0.2) and summary["target"] == (s < 0.2 / 3)
    wide = [{"result": {"metrics": {"bulk_s": {"value": v}}}} for v in (1.0, 1.5, 2.0, 3.0, 4.0)]
    assert not steady.summarize(wide, [{"name": "bulk_s", "bound": 0.2}])["bulk_s"]["within"]


def test_second_set_worse_by_follows_the_metric_direction():
    assert steady.worse_by(10.0, 11.0, "lower") == pytest.approx(0.1)
    assert steady.worse_by(10.0, 11.0, "higher") == pytest.approx(-0.1)
    assert steady.worse_by(10.0, 9.0, "higher") == pytest.approx(0.1)


def test_fails_cleanly_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        SPEC["command"] + ["--workload", "lake_ingest", "--seed", "1", "--seconds", "1",
                           "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
