"""catalog_slice: a fixed slice of the query catalog, each entry run through
the catalog contract ``spark_fn(spark, sf_dir)`` and forced through the noop
sink, with bench.py's untimed hygiene between entries.

Set-up runs every entry once, untimed, and checks its rows against the
entry's DuckDB oracle under the repo's order-insensitive value contract; that
pass also builds the staged artifacts (the streaming entry's events). The
entries that are still getting faster after their first run then run once
more, untimed. The measured window repeats timed passes over the slice.
"""

from __future__ import annotations

import math
import statistics
import time

import duckdb

import bench
from gridiron_spark.io import staging
from gridiron_spark.queries import catalog
from perfbench import inputs
from perfbench.metrics import CATALOG_ENTRIES
from perfbench.harness import check, log
from perfbench.tracing import median


def _canon_cell(v):
    # type-tagged, so 2 (integer) and 2.0 (double) stay distinct, as they do
    # under the catalog's order-insensitive value hash
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, float):
        return ("float", "NaN" if math.isnan(v) else v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, (list, tuple)):
        return ("list", tuple(_canon_cell(x) for x in v))
    return v


def canonical(rows, columns) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, rows sorted by value."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return sorted(columns), out


PLAN_PASSES = 2
WARM_AGAIN = ("topk_orders", "sample_join_back", "recursive_cte_hierarchy")


class CatalogSlice:
    def __init__(self, ctx):
        self.ctx = ctx
        entries = catalog()
        self.entries = {name: entries[name] for name in CATALOG_ENTRIES}
        self.build_s = {name: [] for name in CATALOG_ENTRIES}
        self.run_s = {name: [] for name in CATALOG_ENTRIES}
        self.stage_misses = 0
        self.timing = False
        self._restore = lambda: None

    def prepare(self) -> None:
        ctx = self.ctx
        rows = inputs.CATALOG_ROWS_TINY if ctx.tiny else inputs.CATALOG_ROWS
        self.sf_dir = str(inputs.write_catalog_tables(ctx.work / "sf", rows, ctx.seed))

    def setup(self) -> None:
        ctx = self.ctx
        self.stage_root = ctx.work / "stage"
        self.stage_root.mkdir()
        # staged artifacts go under the run's work directory, not the default root
        staging.STAGE_ROOT = str(self.stage_root)
        self._count_stage_misses()
        con = duckdb.connect()
        try:
            for table in inputs.CATALOG_ROWS:
                con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{table}.parquet')"
                )
            for name in CATALOG_ENTRIES:
                ctx.attempt(self._oracle_check, con, name)
                bench._between_query_hygiene(ctx.spark)
                log(f"{name} checked against its oracle")
        finally:
            con.close()
        # one untimed run as measured of each entry that is still getting
        # faster after its first run
        for name in WARM_AGAIN:
            ctx.attempt(self._timed, name)
        log("warm-up done")
        for samples in (*self.build_s.values(), *self.run_s.values()):
            samples.clear()

    def _count_stage_misses(self) -> None:
        """Count the stages that have to be built while timed: entries import
        ``ensure_stage`` from the module when called, so wrapping the module
        attribute sees every call."""
        original = staging.ensure_stage

        def counted(stage, write_fn):
            if self.timing and not staging.is_ready(stage):
                self.stage_misses += 1
            return original(stage, write_fn)

        staging.ensure_stage = counted
        self._restore = lambda: setattr(staging, "ensure_stage", original)

    def _oracle_check(self, con, name: str) -> bool:
        entry = self.entries[name]
        df = entry.spark_fn(self.ctx.spark, self.sf_dir)
        spark_cols, spark_rows = canonical([tuple(r) for r in df.collect()], df.columns)
        res = con.execute(entry.oracle)
        duck_cols, duck_rows = canonical(
            [tuple(r) for r in res.fetchall()], [d[0] for d in res.description]
        )
        return (
            check(spark_cols == duck_cols, f"{name}: columns {spark_cols} vs {duck_cols}")
            and check(len(spark_rows) > 0, f"{name}: no rows")
            and check(spark_rows == duck_rows, f"{name}: rows differ from the oracle")
        )

    def _timed(self, name: str) -> bool:
        ctx, tracer = self.ctx, self.ctx.tracer
        spark, entry = ctx.spark, self.entries[name]
        self.timing = True
        with tracer.span(f"catalog.{name}"):
            with tracer.span(f"catalog.{name}.build"):
                t0 = time.perf_counter()
                df = entry.spark_fn(spark, self.sf_dir)
                t1 = time.perf_counter()
            with tracer.span(f"catalog.{name}.run"):
                bench._force(df)
                t2 = time.perf_counter()
        self.build_s[name].append(t1 - t0)
        self.run_s[name].append(t2 - t1)
        self.timing = False
        # untimed, as in bench.py: release this run's pinned blocks
        del df
        ctx.quiesce()
        bench._between_query_hygiene(spark)
        tracer.harvest()
        return True

    def measure(self, deadline: float) -> None:
        """PLAN_PASSES passes, then more until ``deadline``."""
        self.passes = 0
        t0 = time.perf_counter()
        while self.passes < PLAN_PASSES or time.perf_counter() < deadline:
            for name in CATALOG_ENTRIES:
                self.ctx.attempt(self._timed, name)
            self.passes += 1
        self.window_s = time.perf_counter() - t0
        log("entry s " + "; ".join(
            f"{n} {[round(b + r, 3) for b, r in zip(self.build_s[n], self.run_s[n])]}"
            for n in CATALOG_ENTRIES
        ))

    def close(self) -> None:
        self._restore()

    def _entry_s(self) -> dict[str, float]:
        return {
            name: statistics.median(b + r for b, r in zip(self.build_s[name], self.run_s[name]))
            for name in CATALOG_ENTRIES
        }

    def end_to_end(self) -> dict[str, float]:
        per_entry = self._entry_s()
        total = math.fsum(per_entry.values())
        return {
            "bulk_s": total,
            "small_s": math.exp(statistics.fmean(math.log(v) for v in per_entry.values())),
            # entries completed per second of the measured window, hygiene included
            "throughput_per_s": self.passes * len(per_entry) / self.window_s,
        }

    def per_layer(self) -> dict[str, float]:
        t = self.ctx.tracer
        out: dict[str, float] = {}
        ops = []
        for name in CATALOG_ENTRIES:
            whole = t.named(f"catalog.{name}")
            ops += whole
            build = t.named(f"catalog.{name}.build")
            run = t.named(f"catalog.{name}.run")
            out[f"catalog.{name}.build_s"] = median(s.seconds for s in build)
            out[f"catalog.{name}.run_s"] = median(s.seconds for s in run)
            out[f"catalog.{name}.jobs"] = median(len(t.jobs_in(s)) for s in whole)
            for key, spans in (("jobs_build", build), ("jobs_run", run)):
                out[f"catalog.{key}"] = out.get(f"catalog.{key}", 0) + median(
                    len(t.jobs_in(s)) for s in spans
                )
            out["catalog.driver_gap_s"] = out.get("catalog.driver_gap_s", 0.0) + median(
                t.driver_gap_s(s) for s in whole
            )
        out["catalog.build_s"] = math.fsum(out[f"catalog.{n}.build_s"] for n in CATALOG_ENTRIES)
        out["catalog.run_s"] = math.fsum(out[f"catalog.{n}.run_s"] for n in CATALOG_ENTRIES)
        jobs = t.jobs
        per_pass = max(self.passes, 1)
        out["catalog.stages"] = sum(j.stages for j in jobs) / per_pass
        out["catalog.tasks"] = sum(j.tasks for j in jobs) / per_pass
        out["catalog.executor_run_s"] = math.fsum(j.executor_run_s for j in jobs) / per_pass
        out["catalog.executor_cpu_s"] = math.fsum(j.executor_cpu_s for j in jobs) / per_pass
        out["catalog.shuffle_bytes"] = sum(j.shuffle_bytes for j in jobs) / per_pass
        out["catalog.spill_bytes"] = sum(j.spill_bytes for j in jobs) / per_pass
        out["io.staging.misses"] = self.stage_misses
        out["spark.jobs_per_op"] = median(len(t.jobs_in(s)) for s in ops)
        out["spark.driver_gap_s"] = median(t.driver_gap_s(s) for s in ops)
        return out
