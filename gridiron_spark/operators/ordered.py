"""Per-group ordered scans (running totals, global numbering) at scale.

The recurring problem: a cumulative window ``PARTITION BY group ORDER BY ord``
puts each group's ENTIRE extent on one task — fatal when groups are few and
corpus-sized (length buckets, data sources). The scale-correct shape is the
one ``ranged_global_sort`` pioneered (queries/tpch_extra.py), generalized here
per group: sample-based range exchange on (group, ord), a per-(partition,
group) local scan, and a broadcast prefix-sum offset table of
|partitions × groups| rows. Parallelism stays |partitions| regardless of how
few groups there are.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gridiron_spark.io.tables import pin


def grouped_running_sum(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "running_sum",
    num_partitions: int = 16,
) -> DataFrame:
    """Inclusive running SUM(value_col) per group in (order_cols) order,
    without ever putting a whole group on one task.

    repartitionByRange draws sample-based boundaries over (group, ord) so
    partitions stay even; spark_partition_id is materialized immediately
    after the exchange and the frame is pinned (lazy :func:`pin`, reliable
    whenever the session has a checkpoint dir) — the plan forks into the
    local-scan and offsets branches, and two independent executions of the
    range exchange could draw DIFFERENT boundaries. The offsets table has
    |partitions × groups| rows, so its own prefix-sum window is free and
    its broadcast is bounded.
    """
    gcols = list(group_cols)
    ocols = list(order_cols)
    srt = pin(
        df.repartitionByRange(num_partitions, *gcols, *ocols).withColumn(
            "_pid", F.spark_partition_id()
        ),
        eager=False,
    )
    local = srt.withColumn(
        "_local_sum",
        F.sum(value_col).over(
            Window.partitionBy("_pid", *gcols)
            .orderBy(*ocols)
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    offsets = (
        local.groupBy(*gcols, "_pid")
        .agg(F.sum(value_col).alias("_n"))
        .select(
            *gcols,
            "_pid",
            F.sum("_n")
            .over(
                Window.partitionBy(*gcols)
                .orderBy("_pid")
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            .alias("_off"),
        )
    )
    return (
        local.join(F.broadcast(offsets), [*gcols, "_pid"])
        .withColumn(
            out_col, F.col("_local_sum") + F.coalesce(F.col("_off"), F.lit(0))
        )
        .drop("_pid", "_local_sum", "_off")
    )
