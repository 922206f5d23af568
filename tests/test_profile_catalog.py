"""scripts/profile_catalog.py: one traced record and one plan per entry,
the k× corpora it profiles across scales, and the t(k) = a + b·k fit."""

from __future__ import annotations

import importlib.util
import json
import math
import os
from pathlib import Path

import duckdb
import pytest

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


@pytest.fixture(scope="module")
def script():
    spec = importlib.util.spec_from_file_location("profile_catalog", SCRIPT)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.fixture(scope="module")
def x2(script, tmp_path_factory):
    """The 2× corpus of SF_SMALL, and a reader of any of its tables or the
    source's."""
    out = script.build_corpus(SF_SMALL, 2, str(tmp_path_factory.mktemp("scale")))
    con = duckdb.connect()

    def rows(lake, table, cols):
        return con.execute(
            f"SELECT {cols} FROM read_parquet('{lake}/{table}.parquet')"
        ).fetchall()

    return out, rows


def _word_3grams(text):
    w = text.split(" ")
    return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}


def test_scale_corpus_doubles_documents_with_disjoint_shingles(x2):
    out, rows = x2
    src = dict(rows(SF_SMALL, "documents", "doc_id, text"))
    got = dict(rows(out, "documents", "doc_id, text"))
    assert len(got) == 2 * len(src)
    n = max(src) + 1
    replicas = [set(), set()]
    for doc_id, text in got.items():
        grams = _word_3grams(text)
        # a vocabulary rename: each replica keeps its source doc's shingles
        assert len(grams) == len(_word_3grams(src[doc_id % n]))
        replicas[doc_id // n] |= grams
    assert replicas[0] and replicas[1]
    assert not replicas[0] & replicas[1]


def test_scale_corpus_rotates_embeddings(x2):
    out, rows = x2
    src = dict(rows(SF_SMALL, "embeddings", "vec_id, embedding"))
    got = dict(rows(out, "embeddings", "vec_id, embedding"))
    assert len(got) == 2 * len(src)
    n = max(src) + 1
    originals = {tuple(v) for v in src.values()}
    for vec_id, vec in got.items():
        if vec_id < n:
            assert vec == src[vec_id]
            continue
        source = src[vec_id - n]
        assert math.isclose(math.fsum(x * x for x in vec),
                            math.fsum(x * x for x in source), rel_tol=1e-9)
        assert tuple(vec) not in originals


def test_scale_corpus_links_every_other_table(x2):
    out, _ = x2
    for table in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events"):
        path = Path(out) / f"{table}.parquet"
        assert path.is_symlink()
        assert os.path.samefile(path, Path(SF_SMALL) / f"{table}.parquet")
    for table in ("documents", "embeddings"):
        assert not (Path(out) / f"{table}.parquet").is_symlink()


def test_scale_corpus_rejects_scales_whose_replicas_repeat(script, tmp_path):
    for k in (0, 27):
        with pytest.raises(ValueError):
            script.build_corpus(SF_SMALL, k, str(tmp_path))


def test_fit_recovers_fixed_and_per_replica_cost(script):
    """Records on t(k) = 2 + 0.5·k (and t(k) = 0.25·k) give back a and b
    exactly, with no residual; job counts come back per k."""
    def rec(name, t, jobs):
        return {"name": name, "build_s": t / 4, "run_s": 3 * t / 4,
                "jobs_build": jobs, "jobs_run": 1}

    runs = {k: [rec("fixed", 2 + 0.5 * k, 3), rec("linear", 0.25 * k, k)]
            for k in (10, 1, 3)}
    fixed, linear = script.fit(runs)
    assert fixed == {"name": "fixed", "a": 2.0, "b": 0.5, "residual": 0.0,
                     "fixed_share": 0.8, "t_s": [2.5, 3.5, 7.0],
                     "jobs": [4, 4, 4]}
    assert (linear["a"], linear["b"], linear["residual"]) == (0.0, 0.25, 0.0)
    assert linear["fixed_share"] == 0.0
    assert linear["jobs"] == [2, 4, 11]
