"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

Mirrors the reference's lazy "pool scan" pattern (reference src/query.py:18-24
builds a LazyFrame over a parquet glob; here ``spark.read.parquet`` gives the
same deferred semantics). All reads are plain columnar parquet scans so
Catalyst's filter pushdown / column pruning apply.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The events table is written with TIMESTAMP(NANOS, isAdjustedToUTC=false),
# which Spark's parquet reader rejects outright (PARQUET_TYPE_ILLEGAL). The
# supported escape hatch reads nano timestamps as epoch-nanos LongType. It is a
# runtime-settable SQLConf, so we can flip it on the session the driver hands
# us without controlling session construction.
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# AQE's byte-based partition coalescing packs post-shuffle partitions up to
# minPartitionSize (Spark default 1m), which collapses compute-heavy but
# byte-light stages (pair scoring over quantized vectors, per-shingle md5
# folds) to ONE task. A 64k floor keeps such stages parallel; at cluster
# scale shuffle partitions dwarf any floor, so it is inert there. Chosen by
# a measured sweep (OPTIMIZATION_r13.md): 16k wins iterative-join loops
# (kcore peel 15.0 s @1m → 6.5 s) but floods tiny per-round window loops
# with 32-task stages (BPE 4.9 → 7.0 s); 64k keeps both near their best.
# session.get_spark sets the floor for bench/tests/CLI, but the grading
# driver hands in its OWN vanilla session (module docstring), so the floor
# must also be applied at read time — the nanosAsLong pattern. It is a
# runtime-settable SQLConf; we only override Spark's stock default so an
# operator who tuned the floor deliberately keeps their value.
_AQE_MIN_PART = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
_AQE_MIN_PART_SPARK_DEFAULT = 1 << 20
_tuned_sessions: "object" = None  # lazily-built weakref.WeakSet


def aqe_min_partition_size() -> str:
    """The AQE coalescing floor every session built or read by the package
    gets; see :func:`load_table` for how to override it."""
    return os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k")


def _ensure_session_tuning(spark: SparkSession) -> None:
    global _tuned_sessions
    import weakref

    if _tuned_sessions is None:
        _tuned_sessions = weakref.WeakSet()
    if spark in _tuned_sessions:
        return
    _tuned_sessions.add(spark)
    if _size_conf(spark, _AQE_MIN_PART, _AQE_MIN_PART_SPARK_DEFAULT) == (
        _AQE_MIN_PART_SPARK_DEFAULT
    ):
        spark.conf.set(_AQE_MIN_PART, aqe_min_partition_size())


# Raw parquet schema per (resolved sf_dir, table): plain metadata,
# memoized so repeated load_table calls (a bench run issues thousands)
# skip the per-call footer-based schema inference — guide §6 (repeated
# listing/planning cost), never result caching: every read still scans
# the parquet data. Keyed on os.path.realpath(sf_dir) so relative paths
# under cwd changes and symlink aliases of the same lake share one entry
# (round-13 advice); an sf_dir whose files change between calls is not a
# supported layout (the driver's lakes are immutable per run).
_SCHEMA_MEMO: dict[tuple[str, str], object] = {}


def _read_parquet(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    key = (os.path.realpath(sf_dir), name)
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_MEMO[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table; normalizes the events timestamp.

    ``events`` comes back with its raw nano clock plus two derived columns:
    ``ts_us`` (epoch microseconds, bigint — the canonical cross-engine form;
    DuckDB timestamps are µs so nanos are not oracle-representable) and
    ``ts_ts`` (TimestampType, µs precision) for window/streaming operators.

    The first call on a session also lowers the session's AQE
    ``minPartitionSize`` from Spark's stock 1m to the package floor
    (:func:`aqe_min_partition_size`), and the setting stays for the rest of
    that session, other queries included. A floor the session already set
    is kept. ``SPARK_GRAFT_AQE_MIN_PARTITION_SIZE=1048576`` restores Spark's
    stock behaviour.
    """
    _ensure_session_tuning(spark)
    if name == "events":
        spark.conf.set(_NANOS_AS_LONG, "true")
        df = _read_parquet(spark, sf_dir, name)
        if dict(df.dtypes)["ts"] == "bigint":
            # integer div, not `/1000`: double division rounds at int64 scale
            ts_us = F.expr("ts div 1000")
        else:
            # Spark >= 4.1 reads TIMESTAMP(NANOS) natively as timestamp_ntz
            # (µs precision, nanos truncated — matching DuckDB's µs clock).
            # timestampdiff against an NTZ epoch literal is session-timezone
            # independent; unix_timestamp() would truncate to whole seconds
            # AND coerce through the session tz.
            ts_us = F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            )
        return df.withColumn("ts_us", ts_us).withColumn(
            "ts_ts", F.timestamp_micros(F.col("ts_us"))
        )
    return _read_parquet(spark, sf_dir, name)


def _parse_size(raw: str, default: int) -> int:
    """Parse a byte size ("128MB", "20k", "4194304b", "134217728");
    ``default`` when the value does not parse."""
    raw = raw.strip().lower()
    mult = 1
    for suffix, m in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("tb", 1 << 40),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40),
        ("b", 1),
    ):
        if raw.endswith(suffix):
            raw, mult = raw[: -len(suffix)], m
            break
    try:
        return int(raw) * mult
    except ValueError:
        return default


def _size_conf(spark: SparkSession, key: str, default: int) -> int:
    """Parse a Spark byte-size conf."""
    return _parse_size(str(spark.conf.get(key, str(default))), default)


def _scan_file_sizes(df: DataFrame) -> list[int] | None:
    """Stat the scan's listed input files. ``df.inputFiles()`` reads the
    relation's file index (a listing, no job); sizes come from a local
    stat. Returns None when the inputs aren't stat-able local files
    (remote lakes — where scans are big and fan_out should no-op
    anyway)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    sizes = []
    for f in files:
        p = f.removeprefix("file:")
        if not os.path.isfile(p):
            return None
        sizes.append(os.path.getsize(p))
    return sizes


def _estimated_scan_partitions(
    df: DataFrame, sizes: list[int] | None = None
) -> int | None:
    """Estimate the scan's partition count WITHOUT materializing the plan as
    an RDD, replaying Spark's own FilePartition.maxSplitBytes formula over
    the scan's listed input files (``sizes`` may be passed in when the
    caller already statted them)."""
    if sizes is None:
        sizes = _scan_file_sizes(df)
    if sizes is None:
        return None
    spark = df.sparkSession
    max_part = _size_conf(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    open_cost = _size_conf(spark, "spark.sql.files.openCostInBytes", 4 << 20)
    parallelism = spark.sparkContext.defaultParallelism
    total = sum(s + open_cost for s in sizes)
    max_split = min(max_part, max(open_cost, total // max(parallelism, 1)))
    if max_split <= 0:
        return len(sizes)
    # Replay Spark's ACTUAL packing (FilePartition.getFilePartitions), not a
    # ceil(total/maxSplit) bound — greedy packing closes a partition early
    # whenever the next split would overflow it, so the true count can
    # exceed the ceiling (many-small-files) or undershoot the file count
    # (files pack together). Split each file into ≤maxSplit pieces, sort
    # pieces descending, then accumulate: close when cur + piece > maxSplit;
    # each added piece weighs length + openCost.
    pieces: list[int] = []
    for s in sizes:
        if s == 0:
            # splitFiles emits no splits for empty part files — including a
            # 0-size piece (plus openCost weight) would overcount partitions
            continue
        while s > max_split:
            pieces.append(max_split)
            s -= max_split
        pieces.append(s)
    if not pieces:
        return 1
    pieces.sort(reverse=True)
    parts, cur = 0, 0
    for p in pieces:
        if cur + p > max_split and cur > 0:
            parts += 1
            cur = 0
        cur += p + open_cost
    if cur > 0:
        parts += 1
    return max(1, parts)


# Round-robin width sizing: one fan_out task per this many INPUT bytes
# (compressed parquet). Round-14 sweep on the heavy fan_out consumers
# (OPTIMIZATION_r14.md): compressed bytes UNDER-represent per-row compute
# — at 96 KB/task the text/embedding entries lost 1.5-3x (filter_funnel
# 1.63→4.67 s at 7 tasks; dedup_embedding_cosine 0.80→1.38 at 9) because
# their fan-out stages are compute-bound, not byte-bound, so the default
# is deliberately small: 20 KB/task keeps every sf0.1 table at full
# cluster width (all measured r13 wins intact, probe-verified flat) and
# only bounds genuinely tiny scans — the sub-100 KB inputs whose 32-way
# round-robin paid more in task scheduling than the work itself (the
# driver's 8-core bench beat its 32-core bench on exactly those stages).
_FAN_OUT_TARGET_BYTES = 20 << 10


def fan_out(df: DataFrame, parallelism: int | None = None) -> DataFrame:
    """Round-robin repartition a *pre-fan-out* input so a downstream explode
    parallelizes — only when the scan is under-partitioned, and only as
    wide as the input size justifies.

    A small parquet file scans as one partition, and explode/posexplode is a
    narrow transformation, so a k-gram fan-out (×300 rows) inherits the
    single task: the whole generation stage runs serially (measured 4× on
    winnow_fingerprint at sf0.1). Repartitioning the compact pre-explode rows
    costs one shuffle of the raw text bytes — tiny relative to the exploded
    output — and buys full-cluster parallelism for the generation stage.

    Width = min(cluster parallelism, max(scan estimate, input bytes /
    target)): a genuinely tiny input stops paying full-cluster scheduling
    for kilobytes of work (the round-13 driver's 8-core bench BEAT its
    32-core bench on exactly these stages), while any input big enough to
    use the cluster still gets it — the target (see
    ``_FAN_OUT_TARGET_BYTES``) is sized so the sf0.1 bench tables all
    keep full width. The under-partitioned check is a
    plan-free file-size estimate (:func:`_estimated_scan_partitions`) — the
    previous ``df.rdd.getNumPartitions()`` probe forced an RDD conversion
    of the query plan, a pointless analysis pass on a large table. At
    100 TB the guard makes this a no-op twice over: big scans estimate
    well above cluster parallelism, and non-local lakes (estimate
    unavailable) skip the repartition entirely.
    """
    if parallelism is None:
        parallelism = df.sparkSession.sparkContext.defaultParallelism
    sizes = _scan_file_sizes(df)
    if sizes is None:
        return df
    est = _estimated_scan_partitions(df, sizes=sizes)
    if est is None or est >= parallelism:
        return df
    width = min(parallelism, max(est, -(-sum(sizes) // _FAN_OUT_TARGET_BYTES)))
    if width <= est:
        return df
    return df.repartition(width)


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and cut its lineage — the one pinning seam.

    The mode follows the session: with a checkpoint dir set
    (``sparkContext.setCheckpointDir``) the pin is a reliable
    ``checkpoint``, so a lost executor re-reads the pinned partitions from
    that storage instead of failing the query; otherwise it is a
    ``localCheckpoint`` — executor-local blocks, the fast form for local
    mode, lost with their executor. ``eager`` materializes at once (one job)
    instead of on first use."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)
