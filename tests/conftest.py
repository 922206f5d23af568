from __future__ import annotations

import pytest

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    import os

    from gridiron_spark.session import get_spark

    # SPARK_GRAFT_TEST_CPUS overrides, then the SPARK_GRAFT_CPUS the rest of
    # the package honours; otherwise up to 16 cores — 16 halves the wall
    # time of the Spark-bound tests on a 32-core box vs the old 8 (round-14
    # slice measurement in OPTIMIZATION_r14.md), and capping at the host's
    # core count keeps smaller boxes from being oversubscribed. Shuffle
    # partitions track the core count as in bench.py.
    cpus = int(
        os.environ.get("SPARK_GRAFT_TEST_CPUS")
        or os.environ.get("SPARK_GRAFT_CPUS")
        or 0
    ) or min(16, os.cpu_count() or 16)
    s = get_spark("gridiron-tests", cpus=cpus, shuffle_partitions=cpus)
    yield s
    s.stop()


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """Give the shared session a checkpoint dir for one test — every
    io.tables.pin is then a reliable checkpoint — and restore the default
    (no dir: local pins) afterwards so later tests are unaffected."""
    sc = spark.sparkContext
    path = tmp_path / "ckpt"
    sc.setCheckpointDir(str(path))
    yield path
    sc.setCheckpointDir(None)


def use_identity_pin(monkeypatch) -> None:
    """Swap io.tables.pin for the identity in every package module that
    imported it, so operators build their unpinned (untruncated) plans."""
    import sys

    from gridiron_spark.io import tables

    real = tables.pin
    for name, mod in list(sys.modules.items()):
        if name.startswith("gridiron_spark") and getattr(mod, "pin", None) is real:
            monkeypatch.setattr(mod, "pin", lambda df, eager=True: df)
