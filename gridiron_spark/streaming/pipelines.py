"""Streaming pipelines over events-shaped data.

Design rules for 100 TB stream backfill + live tail:
- Every aggregation carries a watermark so state is bounded; the watermark
  delay is the late-data SLA, not a tuning knob.
- Aggregation expressions are the *same Column objects* the batch analogs use
  (queries/streaming_batch.py): batch backfill and streaming tail produce
  byte-identical rows, which is what makes the lambda-architecture merge safe.
- Stateful custom logic uses applyInPandasWithState (Arrow-batched, grouped
  state) — never collect-and-loop.
- No distinct aggregates in streams (unsupported by design — unbounded
  state); approx_count_distinct is the scale substitute.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from gridiron_spark.functions.decimal_safe import dsum
from gridiron_spark.functions.vectors import matches
from gridiron_spark.io.tables import pin

# canonical micro-batch event schema (events-shaped; ts as a proper timestamp
# — the lake's nano longs are converted at the stream source boundary)
EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("ts_ts", TimestampType()),
        StructField("value", DoubleType()),
    ]
)


def stream_events(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of event rows (parquet files appended to a dir).

    File sources are the scale-safe default for backfill-style streams: each
    micro-batch is a bounded file list, exactly-once via checkpoint file log.
    """
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def tumbling_agg(
    events: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling-window counts + decimal-safe value sums.

    Same bucket expression as the batch analog (F.window aligns to the epoch),
    so the streaming output unions cleanly with batch backfill output.
    """
    return (
        events.withWatermark("ts_ts", watermark)
        .groupBy(F.window("ts_ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding-window event counts (each row lands in window/slide buckets)."""
    return (
        events.withWatermark("ts_ts", watermark)
        .groupBy(F.window("ts_ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            F.col("w.end").cast("long").alias("window_end"),
            "event_type",
            "n",
        )
    )


def session_agg(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Per-user session windows (30-min inactivity gap) — the streaming form
    of the batch gaps-and-islands query (queries/streaming_batch.py)."""
    return (
        events.withWatermark("ts_ts", watermark)
        .groupBy(F.session_window("ts_ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").cast("long").alias("session_start"),
            F.col("w.end").cast("long").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    watermark: str = "10 minutes",
    keys: list[str] | None = None,
) -> DataFrame:
    """Stateful exactly-once dedup, state bounded by watermark.

    Default key is event_id (idempotent re-delivery suppression); pass
    ``keys`` for semantic dedup on a composite key. Which duplicate
    survives is processing-order-dependent — downstream consumers must
    rely only on the KEY columns unless the source is time-ordered.
    """
    return events.withWatermark("ts_ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


_RUNNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def _running_totals_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user running (count, sum) across micro-batches — custom stateful
    operator exemplar (the applyInPandasWithState escape hatch for semantics
    window/agg built-ins can't express)."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def stateful_running_totals(events: DataFrame) -> DataFrame:
    """Running per-user totals via applyInPandasWithState (update mode)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _running_totals_fn,
        outputStructType=_RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_TWS_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
    ]
)


def tws_user_stats(events: DataFrame) -> DataFrame:
    """Per-user running (count, first_ts, last_ts) via Spark 4's
    ``transformWithStateInPandas`` — the typed-state successor to
    applyInPandasWithState (named state variables, TTL, timers, state
    schema evolution). Requires the RocksDB state store provider and the
    ``protobuf`` package for the Python↔JVM state protocol; this container
    ships neither protobuf nor pip, so the path is exercised only where
    protobuf is importable (tests/test_streaming.py gates on it) — the
    applyInPandasWithState pipeline above is the env-portable equivalent.

    Outputs only order-independent stats (count/min/max) so a drained
    single-batch run is deterministic and batch-comparable.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "stats",
                StructType(
                    [
                        StructField("n", LongType()),
                        StructField("mn", LongType()),
                        StructField("mx", LongType()),
                    ]
                ),
            )

        def handleInputRows(self, key, rows, timerValues):
            prior = self._st.get() if self._st.exists() else None
            n, mn, mx = prior if prior is not None else (0, None, None)
            for pdf in rows:
                n += len(pdf)
                bmn, bmx = int(pdf["ts_us"].min()), int(pdf["ts_us"].max())
                mn = bmn if mn is None else min(mn, bmn)
                mx = bmx if mx is None else max(mx, bmx)
            self._st.update((n, mn, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "first_us": [mn],
                    "last_us": [mx],
                }
            )

        def close(self) -> None:
            pass

    keyed = events.select(
        "user_id", F.unix_micros(F.col("ts_ts")).alias("ts_us")
    ).groupBy("user_id")
    return keyed.transformWithStateInPandas(
        _UserStats(), _TWS_OUT_SCHEMA, "Update", "None"
    )


def attribution_join(
    views: DataFrame, clicks: DataFrame, horizon: str = "24 hours",
    watermark: str = "35 days",
) -> DataFrame:
    """Stream-stream inner join: each click attributed to every prior view by
    the same user within ``horizon`` (the classic ad-attribution shape).

    Both sides carry watermarks plus a two-sided event-time range condition —
    the combination is what lets Spark evict join state: a buffered view can
    be dropped once the click watermark passes ``view_ts + horizon``. Without
    the time bound, stream-stream join state grows forever.

    ``watermark`` is the *disorder bound*, not the horizon: for a live tail
    it is the late-data SLA (minutes); for a backfill over unordered
    historical files it must cover the corpus's time span, because the
    watermark advances between micro-batches and files arrive in no
    particular time order — an old-file row behind the watermark would be
    silently dropped. The default is sized for the synthetic corpus's
    one-month span; production backfills should sort file batches by time or
    keep this at the corpus span.
    """
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts_ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts_ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    cond = F.expr(
        f"v_user = c_user AND click_ts >= view_ts "
        f"AND click_ts <= view_ts + interval {horizon}"
    )
    return v.join(c, cond, "inner").select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("lag_us"),
    )


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    state_partitions: int | None = 8,
    output_mode: str = "complete",
) -> DataFrame:
    """Drain a streaming aggregation to a memory sink (complete mode) with
    the availableNow trigger; returns the result as a batch DataFrame.

    Complete mode is the aggregation default: append mode withholds windows
    the final watermark hasn't passed, so an end-of-stream drain would
    silently drop the tail. Joins don't support complete — pass
    ``output_mode="append"`` for them (inner-join matches are emitted as
    they're found, so nothing is withheld). Memory sink bounds: aggregated /
    joined output only (never raw rows).

    Streaming state shuffles are exempt from AQE coalescing, so the default
    200 shuffle partitions means 200 state stores regardless of data volume;
    ``state_partitions`` pins a sane count at query start (state partitioning
    is frozen into the checkpoint on first run — size it for the target
    load, not the first batch). The session conf is restored afterwards.

    The default is 8 (round-14 audit, the late-data entry's round-13
    sizing rule applied family-wide): every complete-mode drain in the
    catalog aggregates to BOUNDED state — |windows × event types|,
    |sources|, |types × bins| — a few KB of state per run, for which each
    extra store only adds a per-trigger commit file and an idle task
    (guide §5: more partitions = smaller per-task state, but these states
    are already tiny). Measured family-wide at sf0.1: 17.5 s → 13.3 s
    solo with no entry regressing. A deployment whose state scales with
    the corpus (e.g. key-grain dedup over an unbounded id space) passes
    an explicit count sized to peak state, exactly as before — the
    parameter, not the default, is the contract.
    """
    spark = stream_df.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf_key)
    if state_partitions is not None:
        spark.conf.set(conf_key, str(state_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(conf_key, prev)
    return spark.table(query_name)


def enrich_with_dim(
    events: DataFrame,
    dim: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-static enrichment: join the stream to a (broadcast) dimension,
    then a watermarked tumbling aggregation per dimension attribute.

    The static side is re-resolved per micro-batch (Spark re-plans the join
    each trigger), needs no watermark, and holds no join state — the
    scale-safe way to attach dimension attributes to a 100 TB/day stream.
    ``dim`` must expose (join_key, segment).
    """
    enriched = events.join(F.broadcast(dim), events["user_id"] == dim["join_key"])
    return (
        enriched.withWatermark("ts_ts", watermark)
        .groupBy(F.window("ts_ts", window).alias("w"), "segment")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "segment",
            "n",
            "sum_value",
        )
    )


def write_idempotent_partitioned(
    events: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """foreachBatch sink: exactly-once parquet via dynamic partition
    overwrite.

    A failed/replayed micro-batch re-executes foreachBatch with the SAME
    batch rows; because each batch rewrites whole (event_date) partitions
    rather than appending, the replay overwrites its own previous output —
    idempotent without a transaction log. This is the vanilla-parquet
    analog of the reference's per-game overwrite invariant
    (src/ingest.py:82-87) applied to a stream; the partition key must be a
    function of the DATA (event time), never of the batch id, or replays
    would land in fresh partitions and duplicate.
    """

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("event_date", F.to_date("ts_ts"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("event_date")
            .parquet(out_dir)
        )

    q = (
        events.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


DOCUMENT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def stream_documents(
    spark: SparkSession, source_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of document rows — the arriving-crawl shape a
    streaming quality gate consumes."""
    reader = spark.readStream.schema(DOCUMENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def quality_gate_agg(docs: DataFrame, min_tokens: int = 40,
                     min_distinct_frac: float = 0.35) -> DataFrame:
    """Per-source admission stats for a streaming quality gate: the gate
    itself (token count + lexical diversity) is STATELESS — pure per-row
    Column math inside each micro-batch — and the only state is the
    per-source aggregate (|sources| rows). Token sums are integers, so the
    streaming result is bit-identical to batch backfill."""
    toks = F.split(F.lower("text"), " ")
    n_tokens = F.size(toks)
    distinct_frac = F.size(F.array_distinct(toks)) / n_tokens
    keep = (n_tokens >= min_tokens) & (distinct_frac >= min_distinct_frac)
    return (
        docs.select("source", n_tokens.alias("n_tokens"), keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
            F.sum(
                F.when(F.col("keep"), F.col("n_tokens")).otherwise(0)
            ).alias("kept_tokens"),
        )
    )


def model_gate_agg(docs: DataFrame) -> DataFrame:
    """Per-source admission stats for a streaming MODEL quality gate: the
    fastText-style hashed linear classifier (operators/quality_model)
    scores each arriving doc STATELESSLY inside its micro-batch — the
    weight vector is a plan literal, so executors carry the model in the
    task binary and the gate costs zero streaming state; the only state
    is the per-source aggregate (|sources| rows). keep ⟺ score_sum > 0
    (⟺ margin > 0: the denominator is positive whenever a feature
    exists), and all sums are exact BIGINTs, so the streaming result is
    bit-identical to a batch backfill."""
    from gridiron_spark.operators.quality_model import (
        feature_array,
        score_sum_expr,
        tokens_expr,
    )

    # materialize toks → feats → score as successive projections: inside a
    # higher-order lambda a repeated subexpression is NOT eliminated, so an
    # inline chain re-splits the text per element_at (measured 90x on the
    # batch DSIR pass). Projections are free in a micro-batch plan.
    toksed = docs.select("source", tokens_expr("text").alias("toks"))
    featsed = toksed.select(
        "source", feature_array(F.col("toks")).alias("feats")
    )
    scored = featsed.select(
        "source", score_sum_expr(F.col("feats")).alias("score_sum")
    )
    keep = F.col("score_sum") > 0
    return (
        scored.select("source", "score_sum", keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
            F.sum(
                F.when(F.col("keep"), F.col("score_sum")).otherwise(0)
            ).alias("kept_score"),
        )
    )


def cdc_upsert_available_now(
    events: DataFrame, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """CDC-style keyed UPSERT via ``foreachBatch``: every micro-batch is
    merged into a parquet state table as latest-wins per user_id (total
    order (ts_us, event_id) — no ties possible) plus an accumulated
    per-key event count. Both merge rules are CONFLUENT (max over a total
    order; counts add), so the final state is independent of how the file
    source happens to batch the input — which is exactly the property a
    CDC sink needs for exactly-once-equivalent replay, and what lets the
    DuckDB oracle state the result as one batch SQL.

    The parquet overwrite is the dependency-free stand-in for a Delta/
    Iceberg MERGE INTO: the merged frame is materialized (io.tables.pin)
    BEFORE the overwrite truncates the directory it was read from — the
    same read-then-replace hazard a real table format solves with
    snapshots. State stays one row per key, so each merge is a
    key-cardinality aggregate, not a corpus-scale job. Returns the final
    state as a batch DataFrame."""
    spark = events.sparkSession

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        batch_state = (
            batch_df.select(
                "user_id",
                F.unix_micros("ts_ts").alias("last_ts_us"),
                F.col("event_id").alias("last_event_id"),
                F.col("value").cast("double").alias("last_value"),
            )
            .groupBy("user_id")
            .agg(
                F.max(
                    F.struct("last_ts_us", "last_event_id", "last_value")
                ).alias("last"),
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
            )
        )
        import os

        if os.path.isfile(os.path.join(state_dir, "_SUCCESS")):
            existing = spark.read.parquet(state_dir).select(
                "user_id",
                F.struct(
                    "last_ts_us", "last_event_id", "last_value"
                ).alias("last"),
                "n_events",
            )
            batch_state = batch_state.unionByName(existing)
        merged = pin(
            batch_state.groupBy("user_id")
            .agg(
                F.max("last").alias("last"),
                F.sum("n_events").cast("bigint").alias("n_events"),
            )
            .select(
                "user_id",
                F.col("last.last_ts_us").alias("last_ts_us"),
                F.col("last.last_event_id").alias("last_event_id"),
                F.col("last.last_value").alias("last_value"),
                "n_events",
            ),  # materialize BEFORE overwriting the source
        )
        merged.write.mode("overwrite").parquet(state_dir)

    q = (
        events.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(state_dir)


def _scan_batch_dirs(fs, hpath, base: str):
    """Glob ``batch=*`` under ``base``: returns ``(ids, complete_tmps,
    incomplete_tmps)`` — numeric batch dirs as {id: path}, plus any
    ``.folding`` tmp dirs split by whether their ``_SUCCESS`` marker
    exists. Other non-numeric suffixes (a ``_temporary`` leftover, a
    hand-made dir) are ignored, not fatal."""
    statuses = fs.globStatus(hpath(base + "/batch=*"))
    ids: dict[int, str] = {}
    complete, incomplete = [], []
    for st in statuses or []:
        suffix = st.getPath().getName().split("=", 1)[1]
        if suffix.isdigit():
            ids[int(suffix)] = st.getPath().toString()
        elif suffix.endswith(".folding"):
            if fs.exists(hpath(st.getPath().toString() + "/_SUCCESS")):
                complete.append(st.getPath())
            else:
                incomplete.append(st.getPath())
    return ids, complete, incomplete


def _publish_pending_folds(fs, hpath, base: str, ids, complete_tmps) -> None:
    """Finish interrupted folds: a COMPLETE ``.folding`` tmp subsumes
    every live dir with id <= its target (batch ids only grow), so
    retiring those dirs and renaming is always safe — and idempotent, so
    both the fold path AND the read path may heal. ``ids`` is updated in
    place."""
    for p in complete_tmps:
        head = p.getName().rsplit(".folding", 1)[0]
        target = int(head.split("=", 1)[1])
        for bid in [b for b in ids if b <= target]:
            fs.delete(hpath(ids.pop(bid)), True)
        fs.rename(p, hpath(f"{base}/{head}"))
        ids[target] = f"{base}/{head}"


def _batch_parts(
    spark: SparkSession, root: str, before: int | None = None
) -> list[str]:
    """List ``batch=<id>`` state subdirs via the Hadoop FS API (works on
    HDFS/S3/local alike — the state layout carries no local-FS
    assumption), optionally only those STRICTLY EARLIER than ``before``.
    Returned id-sorted. Missing/empty root → [].

    HEALS an interrupted fold before listing: if a crash left a
    complete ``.folding`` tmp whose inputs were (partially) retired but
    whose publish rename never ran, listing without healing would
    silently serve a side-car with those batches MISSING — a drain
    would then screen against partial prior state and commit wrong
    flags. Publishing first is safe from the read path too: the folded
    dir is strictly earlier than any batch that can still replay, and
    the publish is idempotent. Incomplete tmps are left alone (a
    concurrent fold may still be writing them) — they are invisible to
    the listing either way."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    base = root.rstrip("/")
    fs = hpath(base).getFileSystem(spark._jsc.hadoopConfiguration())
    ids, complete_tmps, _ = _scan_batch_dirs(fs, hpath, base)
    _publish_pending_folds(fs, hpath, base, ids, complete_tmps)
    out = [
        (bid, path)
        for bid, path in ids.items()
        if before is None or bid < before
    ]
    return [p for _, p in sorted(out)]


def _fold_root(
    spark: SparkSession, root: str, upto: int | None, bucketed: bool
) -> int:
    """Fold the ``batch=<id>`` dirs of one side-car root with id < upto
    into the single dir ``batch=<max folded id>``. Returns the number of
    dirs retired (0 = nothing to fold). See fold_sidecar_state."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    base = root.rstrip("/")
    fs = hpath(base).getFileSystem(spark._jsc.hadoopConfiguration())
    ids, complete_tmps, incomplete_tmps = _scan_batch_dirs(fs, hpath, base)
    # an incomplete tmp is a dead write (folds never run concurrently
    # with each other) — sweep it; then finish any interrupted publish
    for p in incomplete_tmps:
        fs.delete(p, True)
    _publish_pending_folds(fs, hpath, base, ids, complete_tmps)
    if not ids:
        return 0
    w = upto if upto is not None else max(ids) + 1
    fold = sorted(b for b in ids if b < w)
    if len(fold) < 2:
        return 0
    target = fold[-1]
    tmp = f"{base}/batch={target}.folding"
    src = [ids[b] for b in fold]
    if bucketed:
        # banded signature rows: an append-only SET — fold is a pure
        # union, rewritten bucket-partitioned so PartitionFilters
        # pruning (and the one-file-per-(batch,bucket) invariant) holds
        # on the folded dir exactly as on live batch dirs
        (
            spark.read.option("basePath", base).parquet(*src)
            .select("doc_id", "sig", "band_idx", "band_key", "bucket")
            .repartition("bucket")
            .write.partitionBy("bucket").mode("overwrite").parquet(tmp)
        )
    else:
        # flag deltas: every aggregate is CONFLUENT (SUM/MIN/MAX), so the
        # fold may pre-aggregate to doc grain — the drain-end aggregate
        # over [folded snapshot + live deltas] is unchanged
        (
            spark.read.parquet(*src)
            .groupBy("doc_id")
            .agg(
                F.sum("n_matches").cast("bigint").alias("n_matches"),
                F.min("min_partner").alias("min_partner"),
                F.max("max_est").alias("max_est"),
            )
            .write.mode("overwrite").parquet(tmp)
        )
    for b in fold:
        fs.delete(hpath(ids[b]), True)
    fs.rename(hpath(tmp), hpath(f"{base}/batch={target}"))
    return len(fold)


def fold_sidecar_state(
    spark: SparkSession,
    sig_dir: str,
    flags_dir: str,
    upto: int | None = None,
) -> int:
    """Compact the side-car's per-batch state: fold every committed
    ``batch=<id>`` dir with id < ``upto`` (default: all of them) into the
    single dir ``batch=<max folded id>`` per root — the maintenance pass
    that bounds `_batch_parts`' per-trigger listing AND the accumulated
    small-file population at O(live batches) instead of O(every batch
    ever drained).

    Correctness invariants, in order of importance:

    - **Strictly-earlier semantics preserved by NAMING.** The folded dir
      keeps the ``batch=`` layout under the LARGEST retired id, so to
      every reader it is ordered exactly where its newest constituent
      was: ``_batch_parts(before=b)`` includes it iff it included all
      its constituents (any replayable batch b satisfies b > every
      committed id < upto — the fold must only run between drains, when
      all batch ids below ``upto`` are checkpoint-committed).
    - **Layout-preserving.** Signature rows stay banded and
      bucket-partitioned (same PartitionFilters pruning, same
      one-file-per-(batch,bucket) shape); flag deltas pre-aggregate to
      doc grain, which is exact because every flag aggregate is
      confluent (SUM matches / MIN partner / MAX estimate).
    - **Crash-resumable.** The fold writes a complete ``.folding`` tmp
      sibling first (invisible to `_batch_parts` — non-numeric suffix),
      then retires inputs, then renames. A crash leaves either a
      harmless incomplete tmp (deleted on re-run) or a complete tmp
      that subsumes every remaining dir ≤ its target (batch ids only
      grow), which a re-run publishes.

    Returns the total number of batch dirs retired across both roots.
    Run it between drains (e.g. after each availableNow drain returns,
    or from the maintenance CLI) — never concurrently with an active
    drain on the same checkpoint.
    """
    n = _fold_root(spark, sig_dir, upto, bucketed=True)
    n += _fold_root(spark, flags_dir, upto, bucketed=False)
    return n


def _count_part_files(spark: SparkSession, dirs: list[str]) -> int:
    """Driver-side recursive FS listing: part-file count under ``dirs``
    (no scan, no schema inference)."""
    if not dirs:
        return 0
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(dirs[0]).getFileSystem(spark._jsc.hadoopConfiguration())
    n = 0
    for d in dirs:
        it = fs.listFiles(hpath(d), True)
        while it.hasNext():
            if it.next().getPath().getName().startswith("part-"):
                n += 1
    return n


def _write_sidecar_stats(
    spark: SparkSession, stats_dir: str, batch_id: int,
    n_hot_buckets: int, files_read: int, files_total: int,
) -> None:
    """One bounded-read evidence row per trigger (replay overwrites its
    own subdir, like every other per-batch state write). Built from
    ``spark.range(1)`` + literals rather than ``createDataFrame`` — the
    values are four driver-known ints, and the range form skips the
    Python→JVM row serialization and schema plumbing that made this
    one-row write a measurable per-trigger fixed cost (round-14 probe)."""
    spark.range(1).select(
        F.lit(batch_id).cast("bigint").alias("batch_id"),
        F.lit(n_hot_buckets).cast("bigint").alias("n_hot_buckets"),
        F.lit(files_read).cast("bigint").alias("files_read"),
        F.lit(files_total).cast("bigint").alias("files_prior_total"),
    ).write.mode("overwrite").parquet(f"{stats_dir}/batch={batch_id}")


_FLAG_SCHEMA = (
    "doc_id bigint, n_matches bigint, min_partner bigint, "
    "max_est double, keep bigint"
)


def minhash_sidecar_dedup_available_now(
    docs: DataFrame,
    sig_dir: str,
    flags_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    n_buckets: int = 8,
    broadcast_batch: bool = True,
    stats_dir: str | None = None,
) -> DataFrame:
    """Streaming incremental near-dup screening — the arriving-shard dedup
    a 100 TB ingest actually runs, composing the batch
    `incremental_minhash_flags` screen with a foreachBatch MERGE whose
    state is PARTITIONED BY MICRO-BATCH. Each micro-batch:

    1. shingles + MinHash-signs ONLY the arriving docs (the corpus side is
       never re-shingled — its signature side-car is the state),
    2. LSH-band-joins the batch against side-car ∪ batch for candidate
       pairs, scoring signature-estimated Jaccard (matching-component
       fraction — a k/num_hashes grid, bit-exact cross-engine),
    3. attributes every matched pair to its GREATEST doc_id and writes the
       batch's signature rows and per-doc flag DELTAS each to their own
       ``batch=<id>`` subdirectory.

    The per-batch state layout is what makes the drain honest at scale:

    - **Idempotent replay.** foreachBatch is at-least-once; a replayed
      batch OVERWRITES its own deterministic ``batch=<id>`` subdir (prior
      subdirs are read-only inputs), so a crash between state write and
      checkpoint commit cannot double-count a pair or duplicate a
      signature row — "exactly-once per pair" survives failure replay,
      not just clean runs.
    - **Linear write I/O.** Only the arriving batch's rows are written
      per trigger (the side-car is append-only by construction); a
      rewrite-everything overwrite would pay O(corpus) per batch.
    - **Bounded read I/O (round 12).** The side-car is persisted BANDED
      (one row per (doc, band), signature carried) and hash-partitioned
      into ``bucket=<first-8-hex(md5(band_key)) mod n_buckets>`` subdirs
      (layout v2, round 13 — v1 used xxhash64; a side-car written under
      the v1 layout must be drained fresh or re-bucketed before a v2
      merge reads it, since v2 hot-bucket pruning would partition-filter
      v1 rows out silently), so
      the per-trigger candidate join (a) partition-prunes the side-car
      scan to the buckets the arriving batch actually collides with and
      (b) never RESHUFFLES the side-car: the batch side — bounded by the
      trigger (maxFilesPerTrigger / maxBytesPerTrigger) — broadcasts
      into a map-side hash join against the pruned scan, and the
      signature estimate is computed INLINE from the sig arrays both
      rows carry (no join-back against the corpus). For triggers sized
      past broadcast limits, pass ``broadcast_batch=False``: the join
      degrades to a shuffle of the pruned buckets only, never the whole
      side-car. Periodic small-file compaction of old ``batch=`` dirs is
      the `compact` CLI's job (layout-preserving; ids stay).

    Every aggregate is CONFLUENT (SUM matches / MIN partner / MAX
    estimate), and each unordered pair is formed in exactly one
    micro-batch — the one where its later-arriving member lands
    (same-batch pairs dedup to one row) — so the final flag table,
    assembled by ONE aggregate over the delta partitions at drain end,
    is independent of how the file source batches the input: the DuckDB
    oracle states it as one batch SQL. A doc flagged keep on arrival is
    re-flagged when a smaller-id near-dup arrives later, the CDC
    contract.

    Scale shape: per batch, only |batch| docs are shingled; the side-car
    contributes (doc_id, band, sig) rows — ~1000× smaller than text —
    and only its colliding buckets are read; flag deltas are
    |batch| + |hits| rows. The closing aggregate is one
    map-side-combined groupBy over doc-grain rows."""
    from gridiron_spark.operators.dedup import (
        band_keys,
        minhash_signature_df,
        shingle_rows,
    )

    spark = docs.sparkSession
    rows = num_hashes // bands

    def banded(sig_df: DataFrame) -> DataFrame:
        b = sig_df.select(
            "doc_id",
            "sig",
            F.posexplode(band_keys(F.col("sig"), bands, rows)).alias(
                "band_idx", "band_key"
            ),
        )
        # bucket = first-8-hex-chars of md5(band_key) mod n_buckets — the
        # repo's md5-conv idiom (operators/dedup.simhash) rather than
        # xxhash64, so the LAYOUT itself is ANSI-replayable: a DuckDB
        # oracle can derive which bucket partitions a batch collides
        # with, which is what lets streaming_sidecar_pruned_read_e2e
        # hash-pin the physical pruned-read file counts
        return b.withColumn(
            "bucket",
            F.pmod(
                F.conv(F.substring(F.md5("band_key"), 1, 8), 16, 10)
                .cast("bigint"),
                F.lit(n_buckets),
            ),
        )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        # ONE eager checkpoint per trigger, at BAND grain (round 14, guide
        # §1.1 fixed-cost decomposition: the previous doc-grain checkpoint
        # + take(1) + band-grain checkpoint were three driver-blocking
        # jobs per trigger whose scheduling overhead dominated the probe's
        # phase timings at demo scale). Everything downstream derives from
        # bb: the doc-grain base rows are the band_idx == 0 slice (every
        # non-empty doc emits bands 0..bands-1), and batch emptiness falls
        # out of the hot-bucket collect below.
        bb = pin(
            banded(minhash_signature_df(shingle_rows(batch_df), num_hashes))
        )
        # the arriving batch's collision footprint: ≤ n_buckets ints — a
        # bounded driver collect that turns into partition pruning below
        hot_buckets = [
            r["bucket"] for r in bb.select("bucket").distinct().collect()
        ]
        if not hot_buckets:
            # zero-row micro-batch (e.g. an empty source file): write a
            # schema-carrying empty flags delta and NO sig subdir — a
            # partitionBy write of an empty frame emits no part files,
            # and an all-_SUCCESS batch dir would fail later batches'
            # schema inference on the prior read. An absent subdir is
            # equivalent state (the batch contributes nothing) and the
            # replay contract holds vacuously.
            bb.select(
                "doc_id",
                F.lit(0).cast("bigint").alias("n_matches"),
                F.lit(None).cast("bigint").alias("min_partner"),
                F.lit(None).cast("double").alias("max_est"),
            ).write.mode("overwrite").parquet(f"{flags_dir}/batch={batch_id}")
            if stats_dir is not None:
                # the stats contract is one row per trigger — the oracle
                # emits a row for every shard, including an empty one
                # (n_hot_buckets = 0, files_read = 0, full prior listed)
                _write_sidecar_stats(
                    spark, stats_dir, batch_id, 0, 0,
                    _count_part_files(
                        spark, _batch_parts(spark, sig_dir,
                                            before=batch_id)
                    ),
                )
            return
        # prior side-car = the batch partitions STRICTLY EARLIER than this
        # id — not merely "all other subdirs": a replayed batch must see
        # exactly the state it saw the first time (its own half-written
        # rows AND any later batch's rows excluded), or a pair counted by
        # a later batch re-forms here and double-counts
        prior_dirs = _batch_parts(spark, sig_dir, before=batch_id)
        # explicit schema (data + the batch/bucket partition columns) so
        # the per-trigger prior read skips footer-based inference — with
        # hundreds of accumulated (batch, bucket) files the inference
        # scans were measured to dominate the trigger
        prior_schema = (
            "doc_id bigint, sig array<string>, band_idx int, "
            "band_key string, batch int, bucket bigint"
        )
        if prior_dirs:
            prior = (
                spark.read.option("basePath", sig_dir)
                .schema(prior_schema)
                .parquet(*prior_dirs)
                .filter(F.col("bucket").isin(hot_buckets))
                .select("doc_id", "sig", "band_idx", "band_key", "bucket")
            )
            probe = prior.unionByName(bb)
        else:
            probe = bb
        build = F.broadcast(bb) if broadcast_batch else bb

        def stats_pass() -> None:
            # driver-checkable bounded-read evidence: the PHYSICAL file
            # count of the pruned prior scan (input_file_name reflects
            # post-PartitionFilters scan input) vs the full prior
            # side-car (a driver-side FS listing — no scan). One file
            # per (batch, bucket) by construction (repartition("bucket")
            # keys writer tasks to buckets), so a DuckDB oracle
            # re-derives both counts from the md5 bucket layout alone —
            # a physical/semantic divergence breaks the driver hash of
            # the consuming entry.
            files_read = files_total = 0
            if prior_dirs:
                files_read = (
                    prior.select(F.input_file_name()).distinct().count()
                )
                files_total = _count_part_files(spark, prior_dirs)
            _write_sidecar_stats(spark, stats_dir, batch_id,
                                 len(hot_buckets), files_read, files_total)

        # dedup pairs FIRST, then score: a pair colliding in all `bands`
        # bands would otherwise pay the 16-element signature-agreement
        # aggregate once per colliding band row. est_jaccard is
        # pair-deterministic (and symmetric in the two signatures), so
        # scoring any one surviving row is identical.
        est = (
            probe.alias("p")
            .join(
                build.alias("b"),
                (F.col("p.band_idx") == F.col("b.band_idx"))
                & (F.col("p.band_key") == F.col("b.band_key"))
                & (F.col("p.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least("p.doc_id", "b.doc_id").alias("pid"),
                F.greatest("p.doc_id", "b.doc_id").alias("did"),
                F.col("p.sig").alias("p_sig"),
                F.col("b.sig").alias("b_sig"),
            )
            .dropDuplicates(["pid", "did"])
            .select(
                "pid",
                "did",
                (matches("p_sig", "b_sig") / F.lit(float(num_hashes))).alias(
                    "est_jaccard"
                ),
            )
        )
        hits = (
            est.filter(F.col("est_jaccard") >= threshold)
            .groupBy("did")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_matches"),
                F.min("pid").alias("min_partner"),
                F.max("est_jaccard").alias("max_est"),
            )
            .select(
                F.col("did").alias("doc_id"),
                "n_matches", "min_partner", "max_est",
            )
        )
        # doc-grain base rows from the checkpointed band rows: band 0 is
        # one row per doc by construction (posexplode emits every band)
        base = bb.filter(F.col("band_idx") == 0).select(
            "doc_id",
            F.lit(0).cast("bigint").alias("n_matches"),
            F.lit(None).cast("bigint").alias("min_partner"),
            F.lit(None).cast("double").alias("max_est"),
        )
        delta = base.unionByName(hits)

        def delta_pass() -> None:
            # deterministic per-batch partitions: a replay overwrites ITS
            # OWN subdir and leaves every other batch's state untouched
            delta.write.mode("overwrite").parquet(
                f"{flags_dir}/batch={batch_id}"
            )

        def sig_pass() -> None:
            # banded side-car state: one file per bucket per batch — the
            # hash repartition keys every bucket's rows to ONE task, and
            # the explicit width (= hot-bucket count, known from the
            # collect above) keeps the exchange at most as wide as the
            # output file count (colliding buckets share a task) instead
            # of spark.sql.shuffle.partitions mostly-empty ones
            bb.repartition(len(hot_buckets), "bucket").write.partitionBy(
                "bucket"
            ).mode("overwrite").parquet(f"{sig_dir}/batch={batch_id}")

        # The three tails are mutually independent (three disjoint output
        # dirs; every input — checkpointed bb, read-only prior dirs — is
        # already fixed), so submit them concurrently (guide §2.6:
        # actions are only sequential because driver code calls them
        # sequentially). At demo scale this collapses three
        # driver-blocking job latencies into max(...); at 100 TB the
        # later jobs back-fill executors freed by the earlier jobs' task
        # tails. Any failure propagates before the trigger commits, so
        # at-least-once replay semantics are untouched.
        from concurrent.futures import ThreadPoolExecutor

        passes = [delta_pass, sig_pass]
        if stats_dir is not None:
            passes.append(stats_pass)
        with ThreadPoolExecutor(max_workers=len(passes)) as pool:
            for fut in [pool.submit(p) for p in passes]:
                fut.result()

    q = (
        docs.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    flag_parts = _batch_parts(spark, flags_dir)
    if not flag_parts:  # the drained stream produced zero micro-batches
        return spark.createDataFrame([], _FLAG_SCHEMA)
    return (
        spark.read.parquet(*flag_parts)
        .groupBy("doc_id")
        .agg(
            F.sum("n_matches").cast("bigint").alias("n_matches"),
            F.min("min_partner").alias("min_partner"),
            F.max("max_est").alias("max_est"),
        )
        .select(
            "doc_id",
            "n_matches",
            "min_partner",
            "max_est",
            (F.col("n_matches") == 0).cast("bigint").alias("keep"),
        )
    )
