"""Per-entry layer profile of the query catalog.

Usage:
    SPARK_GRAFT_SF_DIR=<lake> python scripts/profile_catalog.py <tag> [name,...]

Profiles the named entries, or by default every entry ``bench.py`` times
(the catalog minus ``bench._PANEL_DEMO``), on the session ``bench.py`` uses.
Each entry runs once untraced as a warm-up, then once under
``perfbench.tracing.Tracer`` with a ``build`` span (``spark_fn``) and a
``run`` span (``bench._force``); ``bench._between_query_hygiene`` runs after
it. Writes, under the working directory:

- ``PROFILE_<tag>.json``: one record per entry — build and run seconds, Spark
  jobs submitted during build and during run, stages, tasks, executor run
  and CPU seconds, shuffle and spill bytes, driver gap (span time covered by
  no job) and the tracer's own harvest time. It is rewritten after every
  entry, so a cut run keeps what it profiled;
- ``plans/<tag>/<name>.txt``: the entry's ``explain("formatted")`` plan.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from bench import _PANEL_DEMO, _between_query_hygiene, _force  # noqa: E402
from gridiron_spark.queries import catalog  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402


def profile_entry(spark, tracer: Tracer, name: str, spark_fn, sf_dir: str):
    """Warm ``name`` up, then run it once traced. Returns its record and
    its formatted plan."""
    _force(spark_fn(spark, sf_dir))
    tracer.reset()  # forget the warm-up's jobs and any earlier ones
    with tracer.span("build") as build:
        df = spark_fn(spark, sf_dir)
    with tracer.span("run") as run:
        _force(df)
    tracer.harvest()
    build_jobs, run_jobs = tracer.jobs_in(build), tracer.jobs_in(run)
    jobs = build_jobs + run_jobs
    record = {
        "name": name,
        "build_s": build.seconds,
        "run_s": run.seconds,
        "jobs_build": len(build_jobs),
        "jobs_run": len(run_jobs),
        "stages": sum(j.stages for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "executor_run_s": sum(j.executor_run_s for j in jobs),
        "executor_cpu_s": sum(j.executor_cpu_s for j in jobs),
        "shuffle_bytes": sum(j.shuffle_bytes for j in jobs),
        "spill_bytes": sum(j.spill_bytes for j in jobs),
        "driver_gap_s": tracer.driver_gap_s(build) + tracer.driver_gap_s(run),
        "trace_overhead_s": tracer.overhead_s,
    }
    record = {k: round(v, 4) if isinstance(v, float) else v for k, v in record.items()}
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    return record, plan


def profile(spark, sf_dir: str, names: list[str], tag: str) -> None:
    """Profile ``names`` in order and write ``PROFILE_<tag>.json`` and
    ``plans/<tag>/``."""
    entries = catalog()
    missing = set(names) - set(entries)
    if missing:
        raise SystemExit(f"unknown catalog entries: {sorted(missing)}")
    plans = Path("plans") / tag
    plans.mkdir(parents=True, exist_ok=True)
    tracer = Tracer(spark, enabled=True)
    meta = {"sf_dir": sf_dir, "cores": spark.sparkContext.defaultParallelism}
    records = []
    for name in names:
        record, plan = profile_entry(spark, tracer, name, entries[name].spark_fn, sf_dir)
        (plans / f"{name}.txt").write_text(plan)
        records.append(record)
        _between_query_hygiene(spark)
        Path(f"PROFILE_{tag}.json").write_text(
            json.dumps(dict(meta, records=records), indent=1) + "\n"
        )
        print(f"# {name}: build {record['build_s']:.3f}s run {record['run_s']:.3f}s "
              f"jobs {record['jobs_build']}+{record['jobs_run']}", file=sys.stderr, flush=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if len(sys.argv) not in (2, 3) or not sf_dir:
        raise SystemExit(__doc__)
    if len(sys.argv) == 3:
        names = [n.strip() for n in sys.argv[2].split(",") if n.strip()]
    else:
        names = sorted(n for n in catalog() if n not in _PANEL_DEMO)

    from gridiron_spark.session import get_spark

    # Python UDF workers import the package as well, from the environment
    # the session is launched with, not from this process's sys.path.
    paths = [str(ROOT), os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    spark = get_spark("gridiron-profile")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        profile(spark, sf_dir, names, sys.argv[1])
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
