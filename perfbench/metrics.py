"""Every metric the benchmark prints, with its unit.

End-to-end metrics are printed by every workload (``--trace 0``); each
workload fills the three work metrics from its own operations, as the table
in perfbench/README.md sets out (bulk_s: full ingest / training batch /
catalog total; small_s: one-game upsert / figure on a memo miss / geometric
mean of the catalog entries; throughput_per_s: rows ingested per second of
the measured window / dashboard requests per second of dashboard time /
catalog entries per second of the measured window). Per-layer metrics are
printed by every workload in a traced run (``--trace 1``); a layer that a
workload does not call reads 0.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "mem_live_mb": "MB",
    "bulk_s": "s",
    "small_s": "s",
    "throughput_per_s": "1/s",
}

CATALOG_ENTRIES = (
    "topk_orders",
    "sample_join_back",
    "recursive_cte_hierarchy",
    "pricing_summary_q1",
    "streaming_tumbling_e2e",
)

PER_LAYER = {
    # lake_ingest: write path
    "schema.normalize_s": "s",
    "ingest.summarize_s": "s",
    "ingest.write_s": "s",
    "ingest.jobs": "count",
    "ingest.scan_amplification": "ratio",
    "ingest.lake_bytes_per_csv_byte": "ratio",
    "ingest.files_per_game": "count",
    # lake_serve: read path
    "serve.memo_hit_ratio": "ratio",
    "pool.games_s": "s",
    "pool.plays_s": "s",
    "viz.play_figure_s": "s",
    "viz.figure_html_s": "s",
    "pool.jobs_per_fig": "count",
    "pool.files_per_fig": "count",
    "pool.files_per_batch": "count",
    "sampling.jobs_per_batch": "count",
    "tensorize.force_s": "s",
    # catalog_slice, per pass
    "catalog.build_s": "s",
    "catalog.run_s": "s",
    "catalog.jobs_build": "count",
    "catalog.jobs_run": "count",
    "catalog.driver_gap_s": "s",
    "catalog.stages": "count",
    "catalog.tasks": "count",
    "catalog.executor_run_s": "s",
    "catalog.executor_cpu_s": "s",
    "catalog.shuffle_bytes": "bytes",
    "catalog.spill_bytes": "bytes",
    "io.staging.misses": "count",
    **{
        f"catalog.{entry}.{m}": unit
        for entry in CATALOG_ENTRIES
        for m, unit in (("build_s", "s"), ("run_s", "s"), ("jobs", "count"))
    },
    # every workload
    "spark.jobs_per_op": "count",
    "spark.driver_gap_s": "s",
    "trace.overhead_s": "s",
}
