"""Remaining classic TPC-H plan shapes (Q7/Q8/Q9/Q10/Q14/Q15/Q17/Q18),
adapted to the driver's star schema (no partsupp/commitdate, so cost and
lateness terms are re-expressed over the columns that exist).

The reference has only one join shape (composite-key equi-join,
query.py:54); these queries extend the catalog with the join topologies a
production lake needs — bidirectional nation-pair joins, ratio-of-
conditional-aggregates, decorrelated per-group averages, and HAVING-driven
semi joins — each written Spark-first: dimensions broadcast, the lineitem
fact is never shuffled except for its own aggregation keys, and all double
sums route through DECIMAL(18,6) (functions/decimal_safe) so results
hash-match the DuckDB oracle bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gridiron_spark.functions.decimal_safe import dec, dmean, dsum
from gridiron_spark.functions.partitions import range_parts as _range_parts
from gridiron_spark.io.tables import fan_out, load_table, pin
from gridiron_spark.queries import register

def _revenue():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    "nation_pair_volume",
    survey="J1×5+A(Q7 shape: bidirectional nation-pair volume)",
    oracle="""
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM (
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           l_extendedprice * (1 - l_discount) AS volume
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
)
GROUP BY supp_nation, cust_nation, l_year
""",
)
def nation_pair_volume(spark, sf_dir):
    """TPC-H Q7 shape: shipping volume between a nation pair, both
    directions, by year. Spark-first plan: both nation dims are filtered to
    2 rows *before* joining (the disjunction collapses to `n_name IN pair`
    per side plus one residual cross-check), so supplier and customer
    shrink via broadcast-joined pre-filters and lineitem is only ever
    joined against broadcast sides — zero shuffles of the fact table at
    any scale; the final agg groups ~2×years rows."""
    pair = ["NATION_1", "NATION_2"]
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(pair))
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(n.select("n_nationkey", F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "cust_nation")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(dsum(_revenue(), "revenue"))
    )


@register(
    "market_share_ratio",
    survey="J1×6+A-ratio(Q8 shape: conditional-sum market share per year)",
    oracle="""
SELECT o_year,
       CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END
                     AS DECIMAL(18,6))) AS DOUBLE)
       / CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share
FROM (
    SELECT year(o_orderdate) AS o_year,
           l_extendedprice * (1 - l_discount) AS volume,
           sn.n_name AS supp_nation
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    JOIN region   ON r_regionkey = cn.n_regionkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
)
GROUP BY o_year
""",
)
def market_share_ratio(spark, sf_dir):
    """TPC-H Q8 shape: NATION_3's share of ECONOMY-part volume sold into
    ASIA, per order-year. The 7-way join keeps every dimension broadcast
    (part filtered to one type, customer pre-joined to its region-filtered
    nation); the numerator is a conditional decimal sum over the same rows
    as the denominator — one aggregation pass, one output row per year.
    The ratio divides two exact decimals cast to double, so both engines
    perform the identical single IEEE division."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                n.join(
                    F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
                ).select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem")
    vol = dec(_revenue())
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                        dec(F.lit(0))
                    )
                ).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
    )


@register(
    "profit_by_nation_year",
    survey="J1×4+F-like+A(Q9 shape: profit rollup, LIKE-filtered parts)",
    oracle="""
SELECT nation, o_year,
       CAST(SUM(CAST(amount AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
FROM (
    SELECT n_name AS nation,
           year(o_orderdate) AS o_year,
           l_extendedprice * (1 - l_discount) - 0.6 * p_retailprice * l_quantity
               AS amount
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%red%'
)
GROUP BY nation, o_year
""",
)
def profit_by_nation_year(spark, sf_dir):
    """TPC-H Q9 shape: profit on 'red' parts by supplier nation and year.
    The schema has no partsupp, so supply cost is modeled as
    0.6 * p_retailprice (same expression both engines → identical IEEE
    arithmetic before the exact decimal sum). The LIKE filter prunes part
    before its broadcast; orders carries only (key, date) into the join, so
    the only shuffle is the final small groupBy."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    amount = _revenue() - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(dsum(amount, "sum_profit"))
    )


@register(
    "returned_item_topk",
    survey="J1×2+A+O(Q10 shape: returned-item revenue, top-20 customers)",
    oracle="""
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON n_nationkey = c_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def returned_item_topk(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by returned-merchandise revenue in
    one year. Return-flag and date predicates push into the lineitem and
    orders scans (PushedFilters); the groupBy key is the customer, so the
    agg shuffle moves only the filtered fraction; TakeOrderedAndProject
    bounds the sort at 20 rows/partition. c_custkey breaks revenue ties so
    the limit is deterministic across engines."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(_revenue(), "revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "promo_revenue_ratio",
    survey="A-ratio(Q14 shape: conditional revenue share, single row)",
    oracle="""
SELECT 100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate <  TIMESTAMP '1997-04-01'
""",
)
def promo_revenue_ratio(spark, sf_dir):
    """TPC-H Q14 shape: PROMO parts' share of one month's revenue. Part
    broadcasts carrying only (key, type); the ship-date range prunes the
    fact scan; one global aggregation emits a single row (numerator and
    denominator as exact decimals, one final double division shared by both
    engines)."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    vol = dec(_revenue())
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", vol).otherwise(dec(F.lit(0)))
                ).cast("double")
                / F.sum(vol).cast("double")
            ).alias("promo_revenue")
        )
    )


@register(
    "top_revenue_supplier",
    survey="A+J-scalar-subquery(Q15 shape: supplier(s) at max revenue)",
    oracle="""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                AS DOUBLE) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
)
def top_revenue_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the supplier(s) whose quarterly revenue equals the
    maximum. The revenue view aggregates once; the scalar-subquery max is a
    1-row re-aggregation broadcast-cross-joined back (an unpartitioned
    window-max would drag every supplier's row onto one partition — at
    scale the revenue view is |supplier|-sized, so the scalar must stay an
    aggregate, not a window). Equality on exact-decimal-derived doubles is
    deterministic, so ties surface identically in both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(_revenue(), "total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_rev"))
    at_max = revenue.join(F.broadcast(max_rev)).filter(
        F.col("total_revenue") == F.col("max_rev")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(
        F.broadcast(at_max), F.col("s_suppkey") == F.col("supplier_no")
    ).select("s_suppkey", "s_name", "total_revenue")


@register(
    "small_qty_avg_revenue",
    survey="A-decorrelated(Q17 shape: per-part avg threshold, single row)",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
           AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN (
    SELECT l_partkey AS a_partkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(l_quantity) AS avg_qty
    FROM lineitem
    GROUP BY l_partkey
) ON a_partkey = l_partkey
WHERE p_brand = 'Brand#12' AND l_quantity < 0.4 * avg_qty
""",
)
def small_qty_avg_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue lost to small-quantity orders of one brand.
    The correlated `l_quantity < 0.4 * avg(per-part quantity)` subquery is
    decorrelated into a per-part aggregate joined back on partkey — the
    standard Catalyst rewrite, written explicitly so the per-part avg
    (exact decimal sum / count) is bit-identical across engines. At scale
    the per-part aggregate is ~|part| rows → broadcastable; lineitem is
    scanned twice but never shuffled on a non-key."""
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#12")
        .select("p_partkey")
    )
    avg_qty = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.sum(dec("l_quantity")).cast("double") / F.count("l_quantity")).alias(
            "avg_qty"
        )
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(avg_qty), F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < 0.4 * F.col("avg_qty"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / 7.0).alias("avg_yearly")
        )
    )


@register(
    "large_volume_customers",
    survey="A-having+J-semi(Q18 shape: HAVING-driven join-back)",
    oracle="""
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 150
)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
""",
)
def large_volume_customers(spark, sf_dir):
    """TPC-H Q18 shape: customers with any order whose total quantity
    exceeds a threshold. The HAVING subquery aggregates lineitem by
    orderkey once and keeps only qualifying keys (tiny at any scale —
    selectivity is the tail of the quantity distribution), which then
    broadcast-semi-joins back to lineitem; the decimal threshold compare
    happens pre-join so the re-aggregation touches only qualifying
    orders."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("q"))
        .filter(F.col("q") > 150)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        li.join(
            F.broadcast(big), F.col("l_orderkey") == F.col("big_orderkey")
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity", "sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(25)
    )


@register(
    "local_supplier_volume",
    survey="J-cycle+A(Q5 shape: customer-supplier same-nation join cycle)",
    oracle="""
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
JOIN nation   ON n_nationkey = s_nationkey
JOIN region   ON r_regionkey = n_regionkey
WHERE r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
""",
)
def local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: revenue where the customer and the supplier share a
    nation — the join *cycle* (supplier joins on both l_suppkey and the
    customer's nationkey). Spark-first: the cycle closes inside one
    broadcast join (supplier is a dim), so no second pass over the fact;
    the region filter prunes nation before any fact contact; the one
    fact-side Exchange is the final per-nation aggregate."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = (
        load_table(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum(_revenue(), "revenue"))
    )


@register(
    "supplier_part_relation",
    survey="J-anti+A-countDistinct(Q16 shape: NOT IN exclusion, distinct suppliers)",
    oracle="""
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 2, 3, 4, 5)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
)
def supplier_part_relation(spark, sf_dir):
    """TPC-H Q16 shape: distinct suppliers per part profile, excluding a
    NOT-IN supplier set (no partsupp table, so the part↔supplier relation
    is derived as DISTINCT (l_partkey, l_suppkey) from lineitem — itself a
    map-side-combinable dedup). The NOT IN becomes a broadcast left-anti
    join (safe: s_suppkey is non-null, so NOT IN ≡ anti join); the
    countDistinct runs over the already-deduped relation, and the part
    filters prune before the broadcast join."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 2, 3, 4, 5))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        ps.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


_STRATA_THRESHOLDS = [("O", "2"), ("F", "4"), ("P", "8")]


@register(
    "stratified_sample_agg",
    survey="O5-stratified(deterministic per-stratum hash sampling, sampleBy analog)",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
FROM orders
WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) <
      CASE o_orderstatus WHEN 'O' THEN '2' WHEN 'F' THEN '4' ELSE '8' END
GROUP BY o_orderstatus
""",
)
def stratified_sample_agg(spark, sf_dir):
    """Stratified sampling, deterministic: per-stratum rates (O→1/8, F→1/4,
    else→1/2) via an md5-hex threshold on the key — the cross-engine-stable
    analog of `df.sampleBy` (whose RNG stream could never hash-match an
    oracle). The hash predicate is a row-local filter: no shuffle, no RNG
    state, reproducible under retries/speculation at any scale — exactly
    the property a 100 TB training-data sampler needs (the reference's
    seeded sampler, query.py:52, has the same goal single-node)."""
    o = load_table(spark, sf_dir, "orders")
    threshold = F.when(F.col("o_orderstatus") == "O", "2").when(
        F.col("o_orderstatus") == "F", "4"
    ).otherwise("8")
    keep = (
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) < threshold
    )
    return (
        o.filter(keep)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice", "sum_price"),
        )
    )


@register(
    "rolling_range_revenue",
    survey="W-range-frame(30-day RANGE rolling sum) + nth/first_value rows frame",
    oracle="""
SELECT o_orderkey, o_custkey, ts_s,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
            OVER (PARTITION BY o_custkey ORDER BY ts_s
                  RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS rev_30d,
       COUNT(*) OVER (PARTITION BY o_custkey ORDER BY ts_s
                      RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
           AS n_30d,
       first_value(o_totalprice)
           OVER (PARTITION BY o_custkey ORDER BY ts_s, o_orderkey
                 ROWS UNBOUNDED PRECEDING) AS first_price,
       nth_value(o_totalprice, 2)
           OVER (PARTITION BY o_custkey ORDER BY ts_s, o_orderkey
                 ROWS UNBOUNDED PRECEDING) AS second_price
FROM (SELECT o_orderkey, o_custkey, o_totalprice,
             CAST(epoch(o_orderdate) AS BIGINT) AS ts_s
      FROM orders)
""",
)
def rolling_range_revenue(spark, sf_dir):
    """RANGE-frame windows — the shape ROWS frames can't express: each
    customer's trailing-30-day revenue and order count, keyed on event
    *time distance*, not row offsets (ties and gaps handled identically in
    both engines because the frame is value-based). Plus first_value /
    nth_value over a deterministic ROWS frame. One shuffle on o_custkey
    serves all four window columns; the RANGE frame is a running frame —
    Spark evaluates it with a sliding aggregate over the sorted run, not
    O(n²) rescans. The decimal window sum keeps the rolling total exact, so
    doubles match bit-for-bit."""
    from pyspark.sql import Window as W

    # datediff*86400, NOT unix_timestamp: the latter converts the date at
    # midnight in the *session* timezone, so a non-UTC driver host would
    # shift every ts_s by the tz offset. Day arithmetic is tz-independent
    # and matches DuckDB's epoch(DATE) (UTC midnight) exactly.
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        (F.datediff("o_orderdate", F.lit("1970-01-01").cast("date")).cast("long")
         * 86400).alias("ts_s"),
    )
    wr = (
        W.partitionBy("o_custkey")
        .orderBy("ts_s")
        .rangeBetween(-30 * 86400, W.currentRow)
    )
    wrows = (
        W.partitionBy("o_custkey")
        .orderBy("ts_s", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "ts_s",
        F.sum(dec("o_totalprice")).over(wr).cast("double").alias("rev_30d"),
        F.count(F.lit(1)).over(wr).alias("n_30d"),
        F.first("o_totalprice").over(wrows).alias("first_price"),
        F.nth_value("o_totalprice", 2).over(wrows).alias("second_price"),
    )


@register(
    "higher_order_functions",
    survey="F-HOF(transform/filter/exists/zip_with/aggregate over array<float>)",
    oracle="""
SELECT vec_id,
       list_sum(list_transform(embedding[1:8],
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS sq_sum8,
       len(list_filter(embedding[1:8], x -> x > 0)) AS n_pos8,
       len(list_filter(embedding[1:8], x -> abs(x) > 0.2)) > 0 AS any_big8,
       list_sum(list_transform(list_zip(embedding[1:8],
                                        list_reverse(embedding[1:8])),
                p -> CAST(p[1] AS DOUBLE) + CAST(p[2] AS DOUBLE)))
           AS palindrome_sum8
FROM embeddings
""",
)
def higher_order_functions(spark, sf_dir):
    """Higher-order array functions — the JVM-side (no-Python) lambda
    surface: transform (square), filter (count positives), exists
    (any |x|>0.2), zip_with (pairwise sum against the reversed head), and
    aggregate (left fold). All elementwise math widens float→double BEFORE
    the op and folds left-to-right (functions/vectors.py contract), so
    doubles are bit-identical to DuckDB's list_* forms. One narrow pass —
    no shuffle, no UDF; codegen caveat (no CSE inside lambdas) is
    respected by slicing the head-8 once in a prior projection."""
    from gridiron_spark.functions.vectors import _acc_sum

    emb = load_table(spark, sf_dir, "embeddings")
    h8 = emb.select("vec_id", F.slice("embedding", 1, 8).alias("h8"))
    sq = F.transform(F.col("h8"), lambda x: x.cast("double") * x.cast("double"))
    pal = F.zip_with(
        F.col("h8"),
        F.reverse(F.col("h8")),
        lambda x, y: x.cast("double") + y.cast("double"),
    )
    return h8.select(
        "vec_id",
        _acc_sum(sq).alias("sq_sum8"),
        F.size(F.filter(F.col("h8"), lambda x: x > 0)).alias("n_pos8"),
        F.exists(F.col("h8"), lambda x: F.abs(x) > 0.2).alias("any_big8"),
        _acc_sum(pal).alias("palindrome_sum8"),
    )


@register(
    "unpivot_metrics",
    survey="R-unpivot(wide→long melt + per-metric aggregate)",
    oracle="""
SELECT metric,
       COUNT(*) AS n,
       CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM (
    SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
    UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
    UNION ALL SELECT 'l_discount', l_discount FROM lineitem
    UNION ALL SELECT 'l_tax', l_tax FROM lineitem
)
GROUP BY metric
""",
)
def unpivot_metrics(spark, sf_dir):
    """Wide→long melt (`df.unpivot`, the inverse of pivot_event_counts):
    four measure columns become (metric, val) rows in one narrow Expand —
    a single scan, NOT four self-unions — then a 4-group aggregate. The
    oracle is the UNION ALL formulation; the unpivot plan reads the fact
    once where the UNION form would scan it four times.
    fan_out: the ×4 Expand + decimal partial-agg are narrow over the scan
    (guide §2.4; single-file scans otherwise melt on ONE core)."""
    li = fan_out(load_table(spark, sf_dir, "lineitem"))
    long = li.unpivot(
        ids=["l_orderkey"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="val",
    )
    return long.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"), dsum("val", "total")
    )


@register(
    "nested_collect_agg",
    survey="A-nested(collect_list/collect_set with deterministic sort)",
    oracle="""
SELECT o_custkey,
       array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
       array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',')
           AS statuses,
       len(list(o_orderkey)) AS n_orders
FROM orders
WHERE o_custkey < 100
GROUP BY o_custkey
""",
)
def nested_collect_agg(spark, sf_dir):
    """Nested-type aggregation: per-customer order-key arrays
    (collect_list) and distinct status sets (collect_set). Collection
    order is shuffle-dependent in any distributed engine, so both arrays
    are canonicalized with sort_array — the ONLY way nested aggregates can
    be deterministic at scale (same rule a 100 TB pipeline needs for
    reproducible array features). The custkey filter bounds per-group
    array size; unbounded collect_list is the OOM footgun this query
    deliberately fences. Arrays are joined to CSV strings on BOTH sides
    (int/char elements render identically cross-engine) because the
    driver's value hasher can't digest list cells — same scalarization
    convention as the tensor digests (commit 5eb0320)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    return o.groupBy("o_custkey").agg(
        F.array_join(
            F.sort_array(F.collect_list("o_orderkey")).cast("array<string>"),
            ",",
        ).alias("order_keys"),
        F.array_join(
            F.sort_array(F.collect_set("o_orderstatus")), ","
        ).alias("statuses"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "paginated_orders",
    survey="O4-offset(keyset-stable pagination: ORDER BY + LIMIT/OFFSET)",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 50 OFFSET 100
""",
)
def paginated_orders(spark, sf_dir):
    """Pagination page 3 (rows 101-150) of the price-ranked order book —
    `df.offset` + `limit` over a total order made deterministic by the
    o_orderkey tie-break. Spark still evaluates this as a bounded top-(n+k)
    (TakeOrderedAndProject over offset+limit rows per partition), never a
    full global sort — the viable shape for dashboard pagination over a
    100 TB fact; deep offsets should switch to keyset predicates
    (WHERE price < last_seen), which this total order enables."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .offset(100)
        .limit(50)
    )


@register(
    "pricing_summary_q1",
    survey="A1-headline(Q1 shape: full pricing summary, one-pass 8 aggregates)",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                     AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
           / COUNT(l_quantity) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
           / COUNT(l_extendedprice) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
           / COUNT(l_discount) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def pricing_summary_q1(spark, sf_dir):
    """TPC-H Q1, the headline scan-heavy aggregation: eight aggregates over
    ~all of lineitem into a handful of groups. The canonical map-side-
    combine showcase — partial HashAggregate reduces each task's rows to
    ≤|groups| before a trivially small Exchange; the ship-date predicate
    pushes to the parquet scan. Averages are exact-decimal sums divided by
    counts (dmean contract) so doubles hash-match."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")
    )
    disc_price = _revenue()
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        dsum(disc_price, "sum_disc_price"),
        dsum(charge, "sum_charge"),
        dmean("l_quantity", "avg_qty"),
        dmean("l_extendedprice", "avg_price"),
        dmean("l_discount", "avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "null_functions",
    survey="F-null(coalesce/nullif/least/greatest/try_cast three-valued logic)",
    oracle="""
SELECT c_custkey,
       NULLIF(c_mktsegment, 'BUILDING') AS seg_or_null,
       COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'SUPPRESSED') AS seg_folded,
       LEAST(c_acctbal, 0.0) AS bal_floor,
       GREATEST(c_acctbal, 0.0) AS bal_clamped,
       TRY_CAST(c_name AS DOUBLE) AS name_as_num,
       CASE WHEN NULLIF(c_mktsegment, 'BUILDING') IS NULL THEN 'hidden'
            ELSE 'shown' END AS visibility
FROM customer
""",
)
def null_functions(spark, sf_dir):
    """Three-valued-logic function family: nullif/coalesce round trip,
    least/greatest (null-skipping min/max over scalars), try_cast (error-
    free cast → NULL on junk — the PERMISSIVE-mode primitive the ingest
    normalizer leans on), and null-aware CASE. Pure row-local projection:
    whole-stage codegen, no shuffle, semantics identical across engines by
    ANSI definition."""
    c = load_table(spark, sf_dir, "customer")
    seg_or_null = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return c.select(
        "c_custkey",
        seg_or_null.alias("seg_or_null"),
        F.coalesce(seg_or_null, F.lit("SUPPRESSED")).alias("seg_folded"),
        F.least(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_clamped"),
        F.col("c_name").try_cast("double").alias("name_as_num"),
        F.when(seg_or_null.isNull(), "hidden").otherwise("shown").alias("visibility"),
    )


@register(
    "forecast_revenue_change",
    survey="A-scan(Q6 shape: pure pushed-predicate single-row aggregate)",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def forecast_revenue_change(spark, sf_dir):
    """TPC-H Q6, the pure scan-throughput probe: every predicate (date
    range, discount band, quantity cap) reaches the parquet reader as a
    pushed filter over exactly four columns — row-group min/max skipping
    does the work and a single partial-aggregated row per task reaches the
    one-row final agg. No join, no wide shuffle: the query IS the scan,
    which is why engines use it to measure raw columnar bandwidth."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))


@register(
    "multiset_ops",
    survey="SET-all(INTERSECT ALL / EXCEPT ALL multiset semantics)",
    oracle="""
SELECT 'intersect_all' AS op, l_orderkey, l_partkey
FROM (
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_returnflag = 'R'
    INTERSECT ALL
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_linestatus = 'F'
)
UNION ALL
SELECT 'except_all' AS op, l_orderkey, l_partkey
FROM (
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_returnflag = 'R'
    EXCEPT ALL
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_linestatus = 'F'
)
""",
)
def multiset_ops(spark, sf_dir):
    """Multiset set operations — INTERSECT ALL / EXCEPT ALL preserve
    duplicate COUNTS (min/difference of multiplicities), unlike the
    DISTINCT forms already in the catalog (set_intersect_users /
    set_except_users). Spark lowers both to a single count-comparing
    aggregation per branch rather than a join — one shuffle per side on the
    full key; the same rows can appear k times in the output, which the
    order-insensitive hash check verifies exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_partkey")
    f = li.filter(F.col("l_linestatus") == "F").select("l_orderkey", "l_partkey")
    both = r.intersectAll(f).select(
        F.lit("intersect_all").alias("op"), "l_orderkey", "l_partkey"
    )
    only_r = r.exceptAll(f).select(
        F.lit("except_all").alias("op"), "l_orderkey", "l_partkey"
    )
    return both.unionByName(only_r)


@register(
    "ranged_global_sort",
    survey="O-global(total order via RangePartitioning sample-based exchange)",
    oracle="""
SELECT o_orderkey, o_orderdate, o_totalprice,
       ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS seq
FROM orders
WHERE o_orderstatus = 'F'
""",
)
def ranged_global_sort(spark, sf_dir):
    """A true global total order with global row numbers — done the ONLY
    way that scales: repartitionByRange (sample-based range boundaries) +
    per-partition local sort, then global sequence numbers as
    local row_number + broadcast per-partition offsets. A bare
    `row_number() OVER (ORDER BY ...)` would drag every row onto one
    partition (WindowExec warns); here the offsets table is
    |partitions|-sized, so the unpartitioned prefix-sum window over IT is
    free. seq is boundary-placement-independent because the (date, key)
    order is total. Contrast with topk_orders/paginated_orders, whose
    TakeOrderedAndProject never materializes the full order."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    # pid is materialized ONCE, in the map stage right after the range
    # exchange — using spark_partition_id() directly inside the window spec
    # would re-evaluate it after the window's own hash exchange (wrong ids).
    # A pin freezes the (sample-derived, run-varying) range
    # boundaries: the plan branches into local_rn and offsets below, and
    # two independent executions of repartitionByRange could draw DIFFERENT
    # boundaries, silently skewing seq — nondeterministic partition
    # identity must be pinned before a plan forks over it.
    srt = pin(
        o.repartitionByRange(_range_parts(spark), "o_orderdate", "o_orderkey")
        .withColumn("pid", F.spark_partition_id()),
        eager=False,
    )
    local = srt.select(
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        "pid",
        F.row_number()
        .over(W.partitionBy("pid").orderBy("o_orderdate", "o_orderkey"))
        .alias("local_rn"),
    )
    offsets = (
        local.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "pid",
            (
                F.sum("n").over(W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1))
            ).alias("off"),
        )
    )
    return (
        local.join(F.broadcast(offsets), "pid")
        .select(
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            (F.col("local_rn") + F.coalesce(F.col("off"), F.lit(0))).cast("int").alias("seq"),
        )
    )


@register(
    "generator_outer_expand",
    survey="G-posexplode_outer(sequence generation + null-preserving row expansion)",
    oracle="""
SELECT o_orderkey, g.i - 1 AS pos, arr[g.i] AS val
FROM (SELECT o_orderkey, generate_series(1, o_orderkey % 3) AS arr
      FROM orders WHERE o_orderkey < 3000)
LEFT JOIN LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i) g ON true
""",
)
def generator_outer_expand(spark, sf_dir):
    """Generator-function family: `sequence` builds a per-row array (empty
    for every third key) and `posexplode_outer` expands it to (pos, val)
    rows while PRESERVING empty-array parents as a single null row — the
    outer variant matters in pipelines because a plain explode silently
    drops parents, breaking left-side row accounting. Narrow operators
    end to end: no shuffle (the fan-out caveat from the winnow lesson
    applies — at one-file scale the explode inherits the scan's task
    count; bounded here by the key subset)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    n = F.col("o_orderkey") % 3
    arr = F.when(n == 0, F.array().cast("array<bigint>")).otherwise(
        F.sequence(F.lit(1).cast("bigint"), n)
    )
    return (
        o.select("o_orderkey", arr.alias("arr"))
        .select("o_orderkey", F.posexplode_outer("arr").alias("pos", "val"))
        .select("o_orderkey", F.col("pos").cast("long").alias("pos"), "val")
    )


@register(
    "math_functions",
    survey="F-math(abs/floor/ceil/sqrt/pow/sign — IEEE-exact subset)",
    oracle="""
SELECT l_orderkey, l_linenumber,
       abs(l_extendedprice - l_quantity * 1000.0) AS price_gap,
       CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS price_bucket,
       CAST(ceil(l_discount * 100.0) AS BIGINT) AS disc_pct_ceil,
       sqrt(l_quantity) AS qty_sqrt,
       pow(1.0 + l_discount, 2) AS disc_compound,
       CAST(sign(l_quantity - 25.0) AS DOUBLE) AS qty_side
FROM lineitem
WHERE l_orderkey < 3000
""",
)
def math_functions(spark, sf_dir):
    """Math-function parity restricted to the cross-engine-exact subset:
    abs/floor/ceil/sign are exact by definition; sqrt is IEEE
    correctly-rounded; pow(x, 2) is a multiply. Deliberately excluded:
    ln/exp (JVM vs libm differ by 1 ulp — measured here) and round()
    (Spark HALF_UP vs DuckDB half-even) — genuine cross-engine semantic
    differences that decimal routing (decimal_safe) sidesteps for
    aggregates. Widths aligned in SQL (DuckDB floor/ceil→double,
    sign→int vs Spark long/long/double)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 3000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - F.col("l_quantity") * 1000.0).alias("price_gap"),
        F.floor(F.col("l_extendedprice") / 100.0).alias("price_bucket"),
        F.ceil(F.col("l_discount") * 100.0).alias("disc_pct_ceil"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.pow(1.0 + F.col("l_discount"), F.lit(2)).alias("disc_compound"),
        F.signum(F.col("l_quantity") - 25.0).alias("qty_side"),
    )
