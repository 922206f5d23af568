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


def last_job_id(spark) -> int:
    """Newest job id in the status store. Ids, not the store's size: it keeps
    only ``spark.ui.retainedJobs`` jobs, so in a long session its size stops
    growing."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    return store.jobsList(None).apply(0).jobId()  # newest first


def use_identity_pin(monkeypatch) -> None:
    """Swap io.tables.pin for the identity in every package module that
    imported it, so operators build their unpinned (untruncated) plans.
    observed_pin is swapped too, for an unpinned form that computes the
    same metrics with ``df.agg``: with no pin job, an Observation would
    never be filled and reading it would block forever."""
    import sys

    from gridiron_spark.io import tables

    swaps = {
        "pin": (tables.pin, lambda df, eager=True: df),
        "observed_pin": (
            tables.observed_pin,
            lambda df, *metrics: (df, df.agg(*metrics).first().asDict()),
        ),
    }
    for name, mod in list(sys.modules.items()):
        if not name.startswith("gridiron_spark"):
            continue
        for attr, (real, fake) in swaps.items():
            if getattr(mod, attr, None) is real:
                monkeypatch.setattr(mod, attr, fake)
