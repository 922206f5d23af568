"""Per-entry layer profile of the query catalog, at one scale or several.

Usage:
    SPARK_GRAFT_SF_DIR=<lake> python scripts/profile_catalog.py <tag> [name,...]
        [--scales 1,3,10]

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

With ``--scales``, each k builds a k× corpus from the lake (``build_corpus``,
under ``/tmp/gridiron_scale/x{k}``) and profiles it as tag ``<tag>_x{k}``.
Then ``PROFILE_<tag>_fit.json`` holds, per entry, the least-squares fit
t(k) = a + b·k of ``build_s + run_s``: the fixed cost a, the per-replica
data cost b, the RMS residual in seconds, the fixed share a / (a + b) at
k = 1, and t and ``jobs_build + jobs_run`` at each k. A job count that grows
with k marks a loop whose round count depends on the data.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from bench import _PANEL_DEMO, _between_query_hygiene, _force  # noqa: E402
from gridiron_spark.io.tables import TABLES  # noqa: E402
from gridiron_spark.queries import catalog  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

SCALE_ROOT = "/tmp/gridiron_scale"


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


def build_corpus(src: str, k: int, root: str = SCALE_ROOT) -> str:
    """Write a k× copy of the lake at ``src`` to ``<root>/x{k}`` that grows
    the way a bigger corpus would, not as k copies of the same rows:

    - documents: replica r >= 1 suffixes every word with 'z' + letter(r).
      The corpus alphabet has no 'z', so this is a bijective vocabulary
      rename: each replica keeps the source's shingle and duplicate
      structure and shares no shingle with any other replica. Exact copies
      would make every document a near-duplicate of k - 1 others.
    - embeddings: replica r rotates the dimensions cyclically by 7·r
      positions (7 is prime to 64, so replicas r < 64 are distinct). Norms
      and within-replica distances are kept, and a rotated vector is no
      neighbour of its source. Exact copies would make every k-NN
      neighbour set degenerate.
    - every other table is a symlink to the source.

    Ids are offset per replica, and 1 <= k <= 26: letter(r) repeats after
    26 replicas. A finished corpus is reused while its ``.complete`` marker
    names the same source."""
    import duckdb

    if not 1 <= k <= 26:
        raise ValueError(f"scale k={k}: replicas stay distinct for 1 <= k <= 26 only")
    src = os.path.realpath(src)
    out = Path(root) / f"x{k}"
    marker = out / ".complete"
    if marker.is_file() and marker.read_text() == src:
        return str(out)
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    con = duckdb.connect()
    docs = f"read_parquet('{src}/documents.parquet')"
    vecs = f"read_parquet('{src}/embeddings.parquet')"
    n_docs = con.execute(f"SELECT MAX(doc_id) + 1 FROM {docs}").fetchone()[0]
    n_vecs = con.execute(f"SELECT MAX(vec_id) + 1 FROM {vecs}").fetchone()[0]
    con.execute(f"""
COPY (
  SELECT doc_id, text, lang, source, CAST(len(text) AS BIGINT) AS n_chars
  FROM (
    SELECT d.doc_id + r.r * {n_docs} AS doc_id,
           CASE WHEN r.r = 0 THEN d.text
                ELSE array_to_string(list_transform(string_split(d.text, ' '),
                       w -> w || 'z' || chr(CAST(97 + (r.r % 26) AS INTEGER))), ' ')
           END AS text,
           d.lang, d.source
    FROM {docs} d CROSS JOIN range(0, {k}) r(r)
  )
  ORDER BY doc_id
) TO '{out}/documents.parquet' (FORMAT PARQUET)""")
    con.execute(f"""
COPY (
  SELECT e.vec_id + r.r * {n_vecs} AS vec_id,
         CASE WHEN r.r = 0 THEN e.embedding
              ELSE list_transform(range(0, len(e.embedding)), i -> e.embedding[
                   CAST((i + 7 * r.r) % len(e.embedding) + 1 AS INTEGER)])
         END AS embedding,
         e.label
  FROM {vecs} e CROSS JOIN range(0, {k}) r(r)
  ORDER BY vec_id
) TO '{out}/embeddings.parquet' (FORMAT PARQUET)""")
    con.close()
    for t in TABLES:
        if t not in ("documents", "embeddings"):
            (out / f"{t}.parquet").symlink_to(f"{src}/{t}.parquet")
    marker.write_text(src)
    return str(out)


def fit(runs: dict[int, list[dict]]) -> list[dict]:
    """Least-squares t(k) = a + b·k per entry, t = ``build_s + run_s``, from
    the same entries' records at each scale k (at least two distinct k),
    in the order of the smallest scale."""
    ks = sorted(runs)
    by_k = {k: {r["name"]: r for r in runs[k]} for k in ks}
    k_mean = sum(ks) / len(ks)
    k_var = sum((k - k_mean) ** 2 for k in ks)
    fits = []
    for name in by_k[ks[0]]:
        recs = [by_k[k][name] for k in ks]
        t = [r["build_s"] + r["run_s"] for r in recs]
        t_mean = sum(t) / len(t)
        b = sum((k - k_mean) * (tk - t_mean) for k, tk in zip(ks, t)) / k_var
        a = t_mean - b * k_mean
        residual = math.sqrt(sum((tk - a - b * k) ** 2 for k, tk in zip(ks, t)) / len(ks))
        fits.append({
            "name": name,
            "a": round(a, 4),
            "b": round(b, 4),
            "residual": round(residual, 4),
            "fixed_share": round(a / (a + b), 4),
            "t_s": [round(tk, 4) for tk in t],
            "jobs": [r["jobs_build"] + r["jobs_run"] for r in recs],
        })
    return fits


def profile_scales(spark, sf_dir: str, names: list[str], tag: str, scales: list[int]) -> None:
    """Profile ``names`` on a k× corpus for each k in ``scales`` and write
    ``PROFILE_<tag>_x{k}.json`` per k and ``PROFILE_<tag>_fit.json``."""
    dirs = {k: build_corpus(sf_dir, k) for k in scales}
    runs = {}
    for k, scaled in dirs.items():
        print(f"# x{k} corpus", file=sys.stderr, flush=True)
        profile(spark, scaled, names, f"{tag}_x{k}")
        runs[k] = json.loads(Path(f"PROFILE_{tag}_x{k}.json").read_text())["records"]
    meta = {"sf_dir": sf_dir, "cores": spark.sparkContext.defaultParallelism,
            "scales": scales}
    Path(f"PROFILE_{tag}_fit.json").write_text(
        json.dumps(dict(meta, fits=fit(runs)), indent=1) + "\n"
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    parser = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    parser.add_argument("tag")
    parser.add_argument("names", nargs="?", default="")
    parser.add_argument("--scales", default="")
    args = parser.parse_args()
    if not sf_dir:
        raise SystemExit(__doc__)
    names = [n.strip() for n in args.names.split(",") if n.strip()]
    names = names or sorted(n for n in catalog() if n not in _PANEL_DEMO)
    scales = sorted({int(k) for k in args.scales.split(",") if k.strip()})
    if len(scales) == 1:
        raise SystemExit("--scales needs at least two distinct k to fit")

    from gridiron_spark.session import get_spark

    # Python UDF workers import the package as well, from the environment
    # the session is launched with, not from this process's sys.path.
    paths = [str(ROOT), os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    spark = get_spark("gridiron-profile")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if scales:
            profile_scales(spark, sf_dir, names, args.tag, scales)
        else:
            profile(spark, sf_dir, names, args.tag)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
