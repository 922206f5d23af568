"""io.tables: ``pin`` (the one materialization point) and the size parser.

``pin`` picks local vs reliable from the session (a checkpoint dir set or
not), so every pinning operator must return the same rows under a local
pin, a reliable pin, and no pin at all (identity) — and only the reliable
form may survive the loss of an executor holding pinned blocks.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from gridiron_spark.io.tables import load_table
from tests.conftest import SF_ORACLE, SF_SMALL, use_identity_pin


def _prefix(spark):
    from gridiron_spark.operators.dedup import prefix_filtered_pairs

    docs = load_table(spark, SF_ORACLE, "documents")
    return [prefix_filtered_pairs(docs, threshold=0.5)]


def _containment(spark):
    from gridiron_spark.operators.dedup import containment_prefix_pairs

    docs = load_table(spark, SF_SMALL, "documents")
    return [containment_prefix_pairs(docs, threshold=0.8)]


def _cc_pairs(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (12, 12)], "doc_a bigint, doc_b bigint"
    )


def _cc(spark):
    from gridiron_spark.operators.dedup import connected_components

    return [connected_components(_cc_pairs(spark))]


def _cc_star(spark):
    from gridiron_spark.operators.dedup import connected_components_star

    return [connected_components_star(_cc_pairs(spark))]


def _running_sum_input(spark):
    pdf = pd.DataFrame(
        {"g": ["a"] * 20 + ["b"] * 12, "ord": list(range(32)),
         "v": [(i * 7) % 5 for i in range(32)]}
    )
    return spark.createDataFrame(pdf)


def _running_sum(spark):
    from gridiron_spark.operators.ordered import grouped_running_sum

    df = _running_sum_input(spark)
    got = grouped_running_sum(
        df, ["g"], ["ord"], "v", out_col="cs", num_partitions=4
    )
    return [got.select("g", "ord", "cs")]


def _bpe(spark):
    from gridiron_spark.operators.bpe import _run_bpe, word_freq

    steps, seg = _run_bpe(word_freq(load_table(spark, SF_SMALL, "documents")), 4)
    return [*steps, seg]


_CC_WANT = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def _check_cc(spark, rows):
    assert _CC_WANT <= set(rows[0]), rows


def _check_running_sum(spark, rows):
    want = _running_sum_input(spark).withColumn(
        "cs",
        F.sum("v").over(
            W.partitionBy("g").orderBy("ord").rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    assert rows[0] == sorted(tuple(r) for r in want.select("g", "ord", "cs").collect())


def _check_prefix(spark, rows):
    assert len(rows[0]) == 25  # the planted pairs


PINNING_OPERATORS = {
    "prefix_filtered_pairs": (_prefix, _check_prefix),
    "containment_prefix_pairs": (_containment, None),
    "connected_components": (_cc, _check_cc),
    "connected_components_star": (_cc_star, _check_cc),
    "grouped_running_sum": (_running_sum, _check_running_sum),
    "run_bpe": (_bpe, None),
}


def _rows(frames):
    return [sorted(tuple(r) for r in f.collect()) for f in frames]


@pytest.mark.parametrize("name", sorted(PINNING_OPERATORS))
def test_pin_mode_never_changes_rows(spark, name, monkeypatch, request):
    """Local pin, reliable pin and identity pin are plan choices, never
    semantic ones: each pinning operator returns the same rows under all
    three, and the reliable run really writes to the checkpoint dir."""
    build, check = PINNING_OPERATORS[name]
    assert spark.sparkContext.getCheckpointDir() is None
    local = _rows(build(spark))
    with monkeypatch.context() as m:
        use_identity_pin(m)
        identity = _rows(build(spark))
    ckpt = request.getfixturevalue("checkpoint_dir")
    reliable = _rows(build(spark))
    assert any(p.is_file() for p in ckpt.rglob("*")), "no reliable pin written"

    assert identity == local, name
    assert reliable == local, name
    if check is not None:
        check(spark, local)


_EXECUTOR_LOSS = textwrap.dedent(
    """
    import sys, time
    from pyspark.sql import SparkSession
    from gridiron_spark.io.tables import pin

    spark = (SparkSession.builder.master("local-cluster[2,1,1024]")
             .config("spark.ui.enabled", "false").getOrCreate())
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def executors():
        return [e for e in jsc.getExecutorIds().mkString(",").split(",") if e]

    def wait(cond, what):
        deadline = time.time() + 120
        while not cond():
            assert time.time() < deadline, what
            time.sleep(0.5)

    def kill_one():
        # both single-core executors were idle when the 8-task pinning job
        # started, so each holds pinned blocks; kill one (the cluster
        # manager launches a replacement) and wait until the driver has
        # dropped it
        victim = executors()[0]
        assert jsc.killAndReplaceExecutor(victim)
        wait(lambda: victim not in executors(), "executor not removed")

    df = spark.range(0, 2000, 1, 8).selectExpr("id", "id * 3 AS v")
    want = sorted(tuple(r) for r in df.collect())

    wait(lambda: len(executors()) == 2, "executors did not register")
    local = pin(df)
    kill_one()
    try:
        local.collect()
    except Exception as e:
        print("LOCAL_LOST", str(e).count("Checkpoint block"))
    else:
        print("LOCAL_SURVIVED")

    sc.setCheckpointDir(sys.argv[1])
    wait(lambda: len(executors()) == 2, "replacement executor did not register")
    reliable = pin(df)
    kill_one()
    print("RELIABLE_SAME", sorted(tuple(r) for r in reliable.collect()) == want)
    spark.stop()
    """
)


def test_reliable_pin_survives_executor_loss(tmp_path):
    """On a two-executor cluster, killing an executor after a pin loses a
    local pin's blocks (the re-read fails) but not a reliable one's: with a
    checkpoint dir set, the same pin re-reads the same rows."""
    repo = Path(__file__).resolve().parent.parent
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (str(repo), os.environ.get("PYTHONPATH")) if p
    ))
    # local-cluster workers write executor dirs under $SPARK_HOME/work
    # unless Spark runs in testing mode, which uses removed-at-exit temp dirs
    env["SPARK_TESTING"] = "1"
    proc = subprocess.run(
        [sys.executable, "-c", _EXECUTOR_LOSS, str(tmp_path / "ckpt")],
        capture_output=True, text=True, timeout=300, env=env, cwd=tmp_path,
    )
    out = proc.stdout.split()
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "LOCAL_SURVIVED" not in out, "local pin survived executor loss"
    lost = out[out.index("LOCAL_LOST") + 1]
    assert int(lost) > 0, proc.stdout  # failed on the lost pinned blocks
    assert out[out.index("RELIABLE_SAME") + 1] == "True", proc.stdout


def test_parse_size_accepts_size_suffixes():
    """Spark byte-size confs (the AQE floor, file split sizes) are read with
    Spark's suffix syntax: "20k" is 20 KiB, not a crash."""
    from gridiron_spark.io.tables import _parse_size

    assert _parse_size("20k", 1) == 20 << 10
    assert _parse_size("4MB", 1) == 4 << 20
    assert _parse_size("1234", 1) == 1234
    assert _parse_size("lots", 7) == 7
