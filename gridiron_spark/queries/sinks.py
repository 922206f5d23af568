"""Sink round-trips as driver-checkable queries.

The writer surfaces (Hive-partitioned parquet with dynamic per-partition
overwrite — reference ingest.py:76-87 semantics — and the CSV export,
reference src/export.py) were previously pinned only by pytest: a sink has
no SQL form. These entries make them externally checkable anyway by
ROUND-TRIPPING: write to a staging directory, read back, aggregate, and
hash-compare against the oracle aggregating the ORIGINAL table — any row
lost, duplicated, or corrupted by the writer/reader pair flips the hash.

Staging is version-keyed and _SUCCESS-gated (same convention as the
streaming stages), so re-runs reuse the artifact; the overwrite-replay in
the parquet entry re-exercises the dynamic-overwrite path every run.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from gridiron_spark.functions.decimal_safe import dsum

# source_fingerprint moved to io.staging (nanosecond mtime + atomic
# materialization live there now); re-exported for existing importers.
from gridiron_spark.io.staging import (  # noqa: F401
    ensure_stage,
    source_fingerprint,
    stage_path,
)
from gridiron_spark.io.tables import load_table
from gridiron_spark.queries import register


@register(
    "sink_partitioned_roundtrip",
    survey="S5(partitioned parquet sink, dynamic per-partition overwrite) as a round-trip",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY o_orderstatus
""",
)
def sink_partitioned_roundtrip(spark, sf_dir):
    """Hive-partitioned parquet sink round-trip (reference ingest.py:76-87
    per-partition upsert semantics): write orders partitioned by
    o_orderstatus, then DYNAMICALLY OVERWRITE one partition with the same
    rows (the replay an idempotent ingest must tolerate), read the lake
    back, and aggregate per status. The hash check proves the
    writer/reader/overwrite trio preserves every row exactly — a sink bug
    (dropped partition, double write, non-dynamic truncation) flips the
    count or the decimal sum. Scale shape: partitionBy writer is
    shuffle-free (task-local partition files); dynamic overwrite touches
    only the replayed partition's directory."""
    stage = stage_path(sf_dir, "orders_by_status", "orders")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    ensure_stage(
        stage,
        lambda p: o.write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(p),
    )
    # replay one partition through the dynamic-overwrite path every run:
    # same rows in, so the round-trip is only green if overwrite REPLACES
    # (never appends) and touches ONLY the written partition.
    (
        o.filter(F.col("o_orderstatus") == "F")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus")
        .parquet(stage)
    )
    back = spark.read.option("basePath", stage).parquet(stage)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", "sum_price"),
    )


@register(
    "sink_csv_roundtrip",
    survey="S6(CSV sink) + S1(CSV source) as a lossless round-trip",
    oracle="""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY source
""",
)
def sink_csv_roundtrip(spark, sf_dir):
    """CSV export (reference src/export.py) + CSV scan as one checkable
    loop: documents → CSV with header → read back under an explicit DDL
    schema → per-source aggregate. Quoting, header handling, and type
    round-tripping are exactly what silently corrupts text corpora in CSV
    sinks; the token and char sums flip on any mangled row. Scale shape:
    both write and read are partition-parallel, no shuffle until the final
    aggregate."""
    stage = stage_path(sf_dir, "documents_csv", "documents")
    doc = load_table(spark, sf_dir, "documents")
    ensure_stage(
        stage,
        lambda p: doc.write.mode("overwrite").option("header", True).csv(p),
    )
    back = (
        spark.read.schema(
            "doc_id bigint, text string, lang string, source string, n_chars bigint"
        )
        .option("header", True)
        .csv(stage)
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("sum_tokens"),
        F.sum("n_chars").alias("sum_chars"),
    )


# Canonical-target / aliased-source schema for the normalize round-trip —
# built in code via TableSchema.from_dict (same model as configs/*.yaml).
_ORDERS_RT_SCHEMA = {
    "table": "orders_rt",
    "columns": {
        "o_orderkey": {"type": "long", "aliases": ["OrderKey"]},
        "o_custkey": {"type": "long", "aliases": ["CustKey"]},
        "o_orderstatus": {"type": "string", "aliases": ["Status"]},
        "o_totalprice": {"type": "double", "aliases": ["TotalPrice"]},
        # not present in the source at all → constant default applies
        "o_channel": {"type": "string", "default": "batch"},
    },
}


@register(
    "ingest_normalize_roundtrip",
    survey="S1,S2(schema probe: alias resolution + permissive cast + constant default) as an external round-trip",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
       CAST(COUNT(*) AS BIGINT) AS n_defaulted
FROM orders
GROUP BY o_orderstatus
""",
)
def ingest_normalize_roundtrip(spark, sf_dir):
    """The reference's CORE ingest feature — YAML-driven alias resolution,
    permissive casts, and constant defaults (reference src/ingest.py:27-43)
    — externally evidenced by round-trip: orders is re-spelled into
    camelCase alias headers and written to CSV, then re-ingested through
    the REAL LakeIngestor.load_and_normalize path (permissive all-text
    scan → canonical projection), and the per-status aggregate
    is hash-compared against the ORIGINAL table. Any mis-resolved alias,
    lossy cast, or missing default flips a count, the decimal sum, or
    n_defaulted (o_channel is absent from the source, so every row must
    carry the schema's constant default). Scale shape: both the export and
    the normalize scan are partition-parallel projections; the aggregate
    is the only shuffle."""
    from gridiron_spark.ingest import LakeIngestor
    from gridiron_spark.schema.registry import TableSchema

    stage = stage_path(sf_dir, "orders_alias_csv", "orders")
    o = load_table(spark, sf_dir, "orders")
    ensure_stage(
        stage,
        lambda p: o.select(
            F.col("o_orderkey").alias("OrderKey"),
            F.col("o_custkey").alias("CustKey"),
            F.col("o_orderstatus").alias("Status"),
            F.col("o_totalprice").alias("TotalPrice"),
        )
        .write.mode("overwrite")
        .option("header", True)
        .csv(p),
    )
    ing = LakeIngestor(
        spark,
        TableSchema.from_dict(_ORDERS_RT_SCHEMA),
        pool=os.path.join(stage, "_unused_pool"),
    )
    norm = ing.load_and_normalize(stage)
    return norm.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", "sum_price"),
        F.sum((F.col("o_channel") == "batch").cast("bigint")).alias(
            "n_defaulted"
        ),
    )


@register(
    "scan_unified_drift_roundtrip",
    survey="S3(scan_unified: schema-drifted multi-era lake — widening casts + null-fill) as an external round-trip",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(CASE WHEN o_orderkey % 2 = 1
            THEN FLOOR(o_totalprice)
            ELSE o_totalprice END AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
       CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_prioritized,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM orders
GROUP BY o_orderstatus
""",
)
def scan_unified_drift_roundtrip(spark, sf_dir):
    """Pool.scan_unified's schema-drift contract, externally evidenced:
    orders is staged as a two-era Hive lake whose subtrees were ingested
    under DIFFERENT schema versions — era=old stores o_orderkey as INT and
    o_totalprice as FLOAT (the narrow legacy footprint) and lacks
    o_orderpriority entirely; era=new stores BIGINT/DOUBLE and carries the
    extra column. scan_unified must widen int→bigint and float→double up
    the lattice and null-fill the missing column through unionByName; the
    oracle replays the float narrowing (CAST(CAST(x AS REAL) AS DOUBLE) —
    IEEE-identical in both engines) on exactly the old-era rows, so a
    wrong widening, a dropped column, or a mis-branched row flips the
    decimal sum, the priority count, or max_key. A plain scan() would
    silently adopt one footprint (the failure mode scan_unified exists
    for). Scale shape: per-branch scans keep partition pruning; casts are
    map-side; the aggregate is the only shuffle."""
    from gridiron_spark.pool import Pool

    stage = stage_path(sf_dir, "orders_drift_lake", "orders")
    o = load_table(spark, sf_dir, "orders")

    def _write_lake(p: str) -> None:
        (
            o.filter(F.col("o_orderkey") % 2 == 1)
            .select(
                F.col("o_orderkey").cast("int").alias("o_orderkey"),
                "o_orderstatus",
                # the legacy footprint stores whole-unit prices as FLOAT.
                # Values are floored to integers (float-exact < 2^24) on
                # purpose: arbitrary float-narrowed fractions are ulp
                # multiples that land EXACTLY on decimal rounding ties,
                # where Spark rounds half-up and DuckDB half-even — the
                # TYPE drift is the contract under test, not float
                # re-rounding.
                F.floor("o_totalprice").cast("float").alias("o_totalprice"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(p, "era=old"))
        )
        (
            o.filter(F.col("o_orderkey") % 2 == 0)
            .select(
                "o_orderkey", "o_orderstatus", "o_totalprice",
                "o_orderpriority",
            )
            .write.mode("overwrite")
            .parquet(os.path.join(p, "era=new"))
        )
        # the era subtrees carry their own _SUCCESS; gate the whole lake
        open(os.path.join(p, "_SUCCESS"), "w").close()

    ensure_stage(stage, _write_lake)
    unified = Pool(spark, stage).scan_unified()
    return unified.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", "sum_price"),
        F.sum(F.col("o_orderpriority").isNotNull().cast("bigint")).alias(
            "n_prioritized"
        ),
        F.max("o_orderkey").cast("bigint").alias("max_key"),
    )


_DOCS_RT_SCHEMA = {
    "table": "documents_rt",
    "columns": {
        "doc_id": {"type": "long", "aliases": ["id"]},
        "text": {"type": "string", "aliases": ["body"]},
        "lang": {"type": "string", "aliases": ["language"]},
        "source": {"type": "string", "aliases": ["src"]},
        "ingest_tag": {"type": "string", "default": "jsonl"},
    },
}


@register(
    "ingest_json_roundtrip",
    survey="S1(JSON-lines source branch through the same alias/cast/default normalize pipeline) as a round-trip",
    oracle="""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_tagged
FROM documents
GROUP BY source
""",
)
def ingest_json_roundtrip(spark, sf_dir):
    """The JSON-lines intake branch — the common raw shape for crawled
    document corpora — through the SAME normalize pipeline as CSV,
    externally evidenced: documents re-keyed to alias field names
    ({"id", "body", "language", "src"}) and written as JSON lines, then
    re-ingested via LakeIngestor.load_and_normalize(source_format="json")
    (permissive scan → alias resolution → casts → the ingest_tag constant
    default for a field absent from the source) and aggregated per source
    against the original table. JSON escaping of the text payload is
    exactly what silently corrupts document corpora; the token sums flip
    on any mangled row. Scale shape: export and scan are partition-
    parallel; one aggregation shuffle."""
    from gridiron_spark.ingest import LakeIngestor
    from gridiron_spark.schema.registry import TableSchema

    stage = stage_path(sf_dir, "documents_alias_jsonl", "documents")
    doc = load_table(spark, sf_dir, "documents")
    ensure_stage(
        stage,
        lambda p: doc.select(
            F.col("doc_id").alias("id"),
            F.col("text").alias("body"),
            F.col("lang").alias("language"),
            F.col("source").alias("src"),
        )
        .write.mode("overwrite")
        .json(p),
    )
    ing = LakeIngestor(
        spark,
        TableSchema.from_dict(_DOCS_RT_SCHEMA),
        pool=os.path.join(stage, "_unused_pool"),
    )
    norm = ing.load_and_normalize(stage, source_format="json")
    return norm.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias(
            "sum_tokens"
        ),
        F.sum((F.col("ingest_tag") == "jsonl").cast("bigint")).alias(
            "n_tagged"
        ),
    )


# --- Snapshot diff (lake reconciliation) -------------------------------------

_DIFF_DEL_MOD = 101   # simulated next snapshot: deletes
_DIFF_UPD_MOD = 97    # updates (price bump)
_DIFF_INS_MOD = 103   # inserts (new keys)
_DIFF_INS_OFFSET = 1_000_000_000


@register(
    "table_snapshot_diff",
    survey="S-maintenance(row-level snapshot diff: added/removed/changed via full outer key join),J1,SET1",
    oracle=f"""
WITH new AS (
    SELECT o_orderkey,
           o_totalprice + CASE WHEN o_orderkey % {_DIFF_UPD_MOD} = 0
                               THEN 1.0 ELSE 0.0 END AS o_totalprice,
           o_orderstatus
    FROM orders WHERE o_orderkey % {_DIFF_DEL_MOD} <> 0
    UNION ALL
    SELECT o_orderkey + {_DIFF_INS_OFFSET}, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % {_DIFF_INS_MOD} = 0
),
old AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders)
SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
       CASE WHEN old.o_orderkey IS NULL THEN 'added'
            WHEN new.o_orderkey IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type
FROM old FULL OUTER JOIN new USING (o_orderkey)
WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
   OR old.o_totalprice <> new.o_totalprice
   OR old.o_orderstatus <> new.o_orderstatus
""",
)
def table_snapshot_diff(spark, sf_dir):
    """Row-level reconciliation between two lake snapshots — the audit a
    data platform runs after every backfill ("what did this rewrite
    actually change?"): a simulated next snapshot (deterministic deletes,
    price updates, and key-offset inserts over ``orders``) is full-outer
    joined to the current one on the primary key and every row is
    classified added / removed / changed. Field comparison is direct
    column equality (IEEE doubles compare exactly; no stringified row
    hashes — float rendering is engine-specific, a lesson encoded in the
    dtype-sensitivity tests).

    Scale shape: one co-partitioned full-outer shuffle join on the
    primary key (full outer cannot broadcast) + a residual comparison in
    codegen; output is bounded by the CHANGE volume, not the table. On a
    real lakehouse the same query runs against two table-format
    snapshots; nothing else changes."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    new = (
        o.filter(F.col("o_orderkey") % _DIFF_DEL_MOD != 0)
        .select(
            "o_orderkey",
            (
                F.col("o_totalprice")
                + F.when(F.col("o_orderkey") % _DIFF_UPD_MOD == 0, 1.0)
                .otherwise(0.0)
            ).alias("n_totalprice"),
            F.col("o_orderstatus").alias("n_orderstatus"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % _DIFF_INS_MOD == 0).select(
                (F.col("o_orderkey") + _DIFF_INS_OFFSET).alias("o_orderkey"),
                F.col("o_totalprice").alias("n_totalprice"),
                F.col("o_orderstatus").alias("n_orderstatus"),
            )
        )
    )
    old = o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("o_price"),
        F.col("o_orderstatus").alias("o_status"),
    )
    j = old.join(new, "o_orderkey", "full_outer")
    change = (
        F.when(F.col("o_price").isNull(), "added")
        .when(F.col("n_totalprice").isNull(), "removed")
        .otherwise("changed")
    )
    return (
        j.filter(
            F.col("o_price").isNull()
            | F.col("n_totalprice").isNull()
            | (F.col("o_price") != F.col("n_totalprice"))
            | (F.col("o_status") != F.col("n_orderstatus"))
        )
        .select("o_orderkey", change.alias("change_type"))
    )


# --- Bucketed co-located join round-trip -------------------------------------

_BUCKETS = 8


def _bucketed_ddl(name: str, cols: str, key: str, location: str) -> str:
    return f"""
CREATE TABLE {name} ({cols})
USING parquet
CLUSTERED BY ({key}) SORTED BY ({key}) INTO {_BUCKETS} BUCKETS
LOCATION '{location}'
"""


@register(
    "bucketed_join_roundtrip",
    survey="S5+J1(bucketed table sink + shuffle-free co-located big-big join) as a round-trip",
    oracle="""
SELECT o.o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
""",
)
def bucketed_join_roundtrip(spark, sf_dir):
    """The bucketed-table answer to repeated big-big joins, as a driver-
    checkable round-trip (the plan-level guarantee is pinned by
    tests/test_bucketing.py; this entry gives the WRITER+READER pair
    driver hash evidence): orders and lineitem are each written as
    parquet tables bucketed+sorted 8 ways on the order key, re-registered
    from their staged location with the bucket spec in the DDL, and
    joined WITHOUT EXCHANGE (merge hint keeps the planner on the
    sort-merge path the bucketing serves; at 100 TB broadcast is off the
    table anyway). Any row the bucketed writer misplaces lands in the
    wrong bucket, the bucket-pruned join drops or duplicates it, and the
    count/revenue hash flips.

    Scale shape: bucketing pays ONE write-time shuffle per table, then
    every future join/aggregate on the bucket key is exchange-free —
    the amortization that makes daily orders-joins-lineitem pipelines
    linear instead of shuffle-bound. The stage is fingerprint-keyed on
    BOTH sources (either regenerating rebuilds it); re-registration per
    session is metadata-only."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    stage = stage_path(
        sf_dir,
        "bucketed_order_join",
        "orders",
        params={
            "buckets": _BUCKETS,
            "lineitem_fp": source_fingerprint(sf_dir, "lineitem"),
        },
    )

    def write_both(tmp: str) -> None:
        for tname, df, key, sub in (
            ("rt_bw_orders", o, "o_orderkey", "orders"),
            ("rt_bw_lineitem", li, "l_orderkey", "lineitem"),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {tname}")
            (
                df.write.bucketBy(_BUCKETS, key)
                .sortBy(key)
                .option("path", f"{tmp}/{sub}")
                .mode("overwrite")
                .saveAsTable(tname)
            )
            # external table: DROP removes only the catalog entry, the
            # bucketed files stay for the post-rename re-registration
            spark.sql(f"DROP TABLE IF EXISTS {tname}")
        with open(os.path.join(tmp, "_SUCCESS"), "w"):
            pass

    ensure_stage(stage, write_both)

    spark.sql("DROP TABLE IF EXISTS rt_b_orders")
    spark.sql("DROP TABLE IF EXISTS rt_b_lineitem")
    spark.sql(
        _bucketed_ddl(
            "rt_b_orders",
            "o_orderkey BIGINT, o_orderpriority STRING",
            "o_orderkey",
            f"{stage}/orders",
        )
    )
    spark.sql(
        _bucketed_ddl(
            "rt_b_lineitem",
            "l_orderkey BIGINT, l_extendedprice DOUBLE, l_discount DOUBLE",
            "l_orderkey",
            f"{stage}/lineitem",
        )
    )
    ob = spark.table("rt_b_orders").hint("merge")
    lb = spark.table("rt_b_lineitem")
    return (
        ob.join(lb, ob["o_orderkey"] == lb["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "sink_minhash_sidecar_roundtrip",
    survey="S5+NS-dedup(the MinHash signature SIDE-CAR as a persisted lake artifact: build-at-ingest sink + read-back, the table incremental_dedup_flags and the streaming drain assume),A3",
    oracle="""
WITH sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(0, len(t) - 2),
                                   i -> array_to_string(t[i+1:i+3], ' '))
               ELSE [array_to_string(t, ' ')] END) AS shingles
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
),
sig AS (
    SELECT doc_id,
           list_transform(range(0, 16), i ->
               list_min(list_transform(shingles, s -> md5(s || '|' || i)))) AS sig
    FROM sh
)
SELECT doc_id,
       md5(array_to_string(sig, '|')) AS sig_fp,
       CAST(len(sig) AS BIGINT) AS n_hashes
FROM sig
""",
)
def sink_minhash_sidecar_roundtrip(spark, sf_dir):
    """The signature side-car as a PERSISTED lake artifact — the
    write-once-at-ingest table that `incremental_dedup_flags` and
    `streaming_incremental_dedup_e2e` document as the production corpus
    side (their in-query signing exists only because the synthetic lake
    ships no side-car). This entry closes that loop as a checkable sink:
    compute the 16-hash MinHash signatures, WRITE them to a
    fingerprint-keyed parquet stage, READ the stage back, and emit one
    row per doc with the md5 fingerprint of the full signature vector —
    any row the writer/reader pair loses, duplicates, or corrupts (array
    element order included) flips the hash against the oracle, which
    recomputes the signatures from the original documents table.

    Scale shape: the signature build is one map-side-combined groupBy on
    doc_id (operators/dedup.minhash_signature_df); the write is
    partition-parallel with no further shuffle; the read-back
    fingerprint is pure map-side column math. The persisted artifact is
    |docs| × 16 md5 strings — the ~1000×-smaller-than-text table every
    arriving-batch screen joins against instead of re-shingling the
    lake."""
    from gridiron_spark.operators.dedup import (
        minhash_signature_df,
        shingle_rows,
    )

    stage = stage_path(sf_dir, "minhash_sidecar", "documents")
    doc = load_table(spark, sf_dir, "documents")
    ensure_stage(
        stage,
        lambda p: minhash_signature_df(shingle_rows(doc))
        .write.mode("overwrite")
        .parquet(p),
    )
    back = spark.read.parquet(stage)
    return back.select(
        "doc_id",
        F.md5(F.concat_ws("|", "sig")).alias("sig_fp"),
        F.size("sig").cast("bigint").alias("n_hashes"),
    )
