"""Scale-technique operator properties: salting changes the plan, never the
result; IVF trades recall for probe count in the documented direction."""

from __future__ import annotations

from pyspark.sql import functions as F

from gridiron_spark.functions.decimal_safe import dec
from gridiron_spark.io.tables import load_table
from gridiron_spark.operators.similarity import ivf_topk
from gridiron_spark.operators.skew import salted_agg
from tests.conftest import SF_ORACLE


def test_salted_agg_equals_direct(spark):
    ev = load_table(spark, SF_ORACLE, "events")
    salted = {
        r.event_type: (r.n, r.sum_value)
        for r in salted_agg(
            ev,
            keys=["event_type"],
            salt_source=F.col("event_id"),
            partial_aggs=[
                F.count(F.lit(1)).alias("n_part"),
                F.sum(dec("value")).alias("sum_part"),
            ],
            merge_aggs=[
                F.sum("n_part").alias("n"),
                F.sum("sum_part").cast("double").alias("sum_value"),
            ],
        ).collect()
    }
    direct = {
        r.event_type: (r.n, r.sum_value)
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .collect()
    }
    assert salted == direct  # bit-exact: decimal merge is associative


def test_countmin_estimates_bound_true_counts(spark):
    """CMS guarantee: point estimate (min over hash rows) never undercounts,
    and overshoot stays within the N·e/w additive bound."""
    import math

    from gridiron_spark.queries.scale import _CMS_DEPTH, _CMS_WIDTH, countmin_sketch

    sketch = {}
    for r in countmin_sketch(spark, SF_ORACLE).collect():
        sketch[(r.row_i, r.bucket)] = r.cnt
    ev = load_table(spark, SF_ORACLE, "events")
    true_counts = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_total = sum(true_counts.values())
    bound = math.e * n_total / _CMS_WIDTH
    import hashlib

    for uid, true_n in true_counts.items():
        est = min(
            sketch.get(
                (
                    i,
                    int(hashlib.md5(f"{uid}|{i}".encode()).hexdigest()[:8], 16)
                    % _CMS_WIDTH,
                ),
                0,
            )
            for i in range(_CMS_DEPTH)
        )
        assert est >= true_n  # CMS never undercounts
        assert est - true_n <= bound


def test_hll_estimate_within_bound(spark):
    """HLL estimate from the register sketch lands within the standard
    ~1.04/sqrt(m) relative-error bound (with generous 3-sigma slack) of the
    true distinct count, and registers merge by cell-wise MAX."""
    import math

    from gridiron_spark.queries.scale import _HLL_BUCKETS, hll_distinct_sketch

    rows = hll_distinct_sketch(spark, SF_ORACLE).collect()
    regs = [0] * _HLL_BUCKETS
    for r in rows:
        regs[r.bucket] = r.max_rho
    m = _HLL_BUCKETS
    alpha = 0.709  # alpha_64
    raw = alpha * m * m / sum(2.0**-x for x in regs)
    zeros = regs.count(0)
    est = m * math.log(m / zeros) if (raw <= 2.5 * m and zeros) else raw
    true_n = (
        load_table(spark, SF_ORACLE, "events").select("user_id").distinct().count()
    )
    assert abs(est - true_n) / true_n < 3 * 1.04 / math.sqrt(m)

    # mergeability: sketch(first half) MAX sketch(second half) == sketch(all)
    ev = load_table(spark, SF_ORACLE, "events")
    med = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    halves = [ev.filter(F.col("event_id") <= med), ev.filter(F.col("event_id") > med)]
    from gridiron_spark.queries.scale import hll_registers

    merged = [0] * m
    for h in halves:
        for r in hll_registers(h).collect():
            merged[r.bucket] = max(merged[r.bucket], r.max_rho)
    assert merged == regs


def test_approx_aggregates_within_bounds(spark):
    """The 100 TB substitutes for exact distinct/percentile: HLL++ and
    GK-sketch results must land within their documented error bounds of the
    exact answers (which the oracle'd queries pin)."""
    ev = load_table(spark, SF_ORACLE, "events")
    row = ev.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.expr("percentile(value, 0.5)").alias("exact_p50"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("approx_p50"),
    ).collect()[0]
    assert abs(row.approx_users - row.exact_users) / row.exact_users < 0.06
    spread = (
        ev.agg(F.max("value") - F.min("value")).collect()[0][0]
    )
    assert abs(row.approx_p50 - row.exact_p50) <= 0.01 * spread


def test_ivf_results_are_true_cosines_and_recall_monotone(spark):
    """IVF scores are exact for returned ids (only *membership* is
    approximate), and recall against brute force grows with n_probe."""
    from gridiron_spark.functions.vectors import cosine

    emb = load_table(spark, SF_ORACLE, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    brute = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select("vec_id", cosine(F.col("embedding"), F.col("qvec")).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )
    exact = {r.vec_id: r.cos_sim for r in brute.collect()}

    recalls = []
    for n_probe in (1, 3, 10):
        got = {
            r.vec_id: r.cos_sim
            for r in ivf_topk(emb, 0, k=10, centroid_stride=50, n_probe=n_probe).collect()
        }
        for vid, cs in got.items():
            if vid in exact:
                assert cs == exact[vid]  # scores never approximated
        recalls.append(len(set(got) & set(exact)) / len(exact))
    assert recalls == sorted(recalls)
    assert recalls[-1] >= 0.9  # probing all 10 lists ≈ exhaustive


def test_histogram_sketch_is_mergeable(spark):
    """The sketch property that justifies the operator: bin counts built on
    two disjoint halves and merged by SUM give the exact whole-corpus
    quantile answer (t-digest/KLL merges are approximate; fixed bins are
    not)."""
    from gridiron_spark.queries import catalog

    ev = load_table(spark, SF_ORACLE, "events")
    whole = {
        r.event_type: (r.n, r.p50_lo, r.p90_lo, r.p99_lo)
        for r in catalog()["histogram_quantile_sketch"]
        .spark_fn(spark, SF_ORACLE)
        .collect()
    }

    binned = ev.select(
        "event_type",
        F.expr("CAST(floor(value) AS BIGINT) DIV 10").alias("bin"),
        (F.col("event_id") % 2).alias("half"),
    )
    halves = binned.groupBy("half", "event_type", "bin").count()
    merged = halves.groupBy("event_type", "bin").agg(F.sum("count").alias("cnt"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("event_type")
    cc = merged.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "total", F.sum("cnt").over(wt)
    )
    got = {
        r.event_type: (r.n, r.p50_lo, r.p90_lo, r.p99_lo)
        for r in cc.groupBy("event_type")
        .agg(
            F.max("total").alias("n"),
            (F.min(F.when(F.col("cum") >= F.expr("(total + 1) DIV 2"), F.col("bin"))) * 10).alias("p50_lo"),
            (F.min(F.when(F.col("cum") >= F.expr("(9 * total + 9) DIV 10"), F.col("bin"))) * 10).alias("p90_lo"),
            (F.min(F.when(F.col("cum") >= F.expr("(99 * total + 99) DIV 100"), F.col("bin"))) * 10).alias("p99_lo"),
        )
        .collect()
    }
    assert got == whole


def test_resample_fill_semantics(spark):
    """Crafted frame: gaps carry the last value forward, leading buckets
    start at the user's first event, ties at one timestamp resolve to the
    highest event_id."""
    from gridiron_spark.queries.scale import _HOUR_US

    rows = [
        # user 1: events in buckets 0 and 2 (gap at 1), tie at bucket 0
        (1, 10, 0 * _HOUR_US + 5, "a", 1.5),
        (2, 10, 0 * _HOUR_US + 5, "a", 2.5),   # same ts, higher id wins
        (3, 10, 2 * _HOUR_US + 1, "a", 9.0),
        # user 2: single bucket
        (4, 20, 5 * _HOUR_US, "a", 7.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_us long, event_type string, value double"
    )
    import gridiron_spark.queries.scale as S
    import gridiron_spark.io.tables as T

    orig = T.load_table
    try:
        T.load_table = lambda sp, d, t: ev
        S.load_table = lambda sp, d, t: ev
        out = {
            (r.user_id, r.grid_start): r.value
            for r in S.resample_forward_fill(spark, "ignored").collect()
        }
    finally:
        T.load_table = orig
        S.load_table = orig
    assert out == {
        (10, 0): 2.5,
        (10, 3600): 2.5,   # gap forward-filled
        (10, 7200): 9.0,
        (20, 18000): 7.0,
    }


def test_sequence_pack_invariants(spark):
    """Structural packing invariants the hash oracle can't express directly:
    conservation (every doc lands in exactly one sequence), capacity (no
    sequence exceeds 128 padded tokens), and fullness (every non-final
    sequence of a bucket holds exactly `fit` docs)."""
    from pyspark.sql import functions as F

    from gridiron_spark.io.tables import load_table
    from gridiron_spark.queries import catalog
    from tests.conftest import SF_SMALL

    out = catalog()["sequence_pack_bucketed"].spark_fn(spark, SF_SMALL).cache()
    n_docs_total = out.agg(F.sum("n_docs")).first()[0]
    assert n_docs_total == load_table(spark, SF_SMALL, "documents").count()
    bad_capacity = out.filter(
        F.col("n_docs") * F.col("bucket_len") > 128
    ).count()
    assert bad_capacity == 0
    assert out.filter((F.col("slot_pad") < 0) | (F.col("tail_pad") < 0)).count() == 0
    # all but the highest seq_idx per bucket must be full (tail_pad < bucket_len)
    from pyspark.sql import Window as W

    last = F.max("seq_idx").over(W.partitionBy("bucket_len"))
    not_full_non_final = (
        out.withColumn("last", last)
        .filter((F.col("seq_idx") != F.col("last")) & (F.col("tail_pad") >= F.col("bucket_len")))
        .count()
    )
    assert not_full_non_final == 0
    out.unpersist()


def test_knn_join_topk_structure(spark):
    """Every query gets exactly k ranked neighbors, ranks are 1..k, no
    self-matches, and similarities are non-increasing within a query."""
    from pyspark.sql import functions as F

    from gridiron_spark.queries import catalog
    from tests.conftest import SF_SMALL

    rows = catalog()["knn_join_topk"].spark_fn(spark, SF_SMALL).collect()
    by_q = {}
    for r in rows:
        assert r.vec_id != r.qid
        by_q.setdefault(r.qid, []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        sims = [r.cos_sim for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_decontaminate_flags_planted_overlap(spark):
    """A training doc sharing a benchmark doc's exact text must be flagged
    with at least as many shared shingles as the benchmark doc has."""
    import pandas as pd
    from pyspark.sql import functions as F

    from gridiron_spark.queries.dedup import decontaminate_ngram_overlap
    from gridiron_spark.io.tables import load_table
    from tests.conftest import SF_SMALL

    # build a tiny frame through the same entry: plant doc 50 (bench: 50%50==0)
    # and doc 51 (train) with identical text
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        text = "alpha beta gamma delta epsilon zeta eta theta"
        pdf = pd.DataFrame(
            {
                "doc_id": [50, 51, 52],
                "text": [text, text, "totally different words entirely here now"],
                "lang": ["en"] * 3,
                "source": ["t"] * 3,
                "n_chars": [len(text)] * 2 + [41],
            }
        )
        spark.createDataFrame(pdf).write.parquet(os.path.join(d, "documents.parquet"))
        got = {r.doc_id: r for r in decontaminate_ngram_overlap(spark, d).collect()}
    assert 51 in got and got[51].n_shared_shingles == 6  # 8 tokens -> 6 shingles
    assert 52 not in got


def test_mixture_token_budget_invariants(spark):
    """No source exceeds its budget; selection is a deterministic prefix of
    the md5 order (re-running yields identical rows); heterogeneous mix
    rates actually differ across sources."""
    from pyspark.sql import functions as F

    from gridiron_spark.io.tables import load_table
    from gridiron_spark.queries import catalog
    from tests.conftest import SF_SMALL

    fn = catalog()["mixture_token_budget"].spark_fn
    out = fn(spark, SF_SMALL)
    doc = load_table(spark, SF_SMALL, "documents")
    tot = (
        doc.groupBy("source")
        .agg(F.sum(F.size(F.split("text", " "))).alias("tot"))
        .withColumn(
            "budget",
            F.expr("(tot * ((CAST(substring(source, 4, 8) AS INT) % 3) + 1)) div 5"),
        )
    )
    over = (
        out.groupBy("source")
        .agg(F.sum("n_tokens").alias("sel"))
        .join(tot, "source")
        .filter(F.col("sel") > F.col("budget"))
        .count()
    )
    assert over == 0
    a = sorted((r.doc_id, r.source, r.cum_tokens) for r in out.collect())
    b = sorted((r.doc_id, r.source, r.cum_tokens) for r in fn(spark, SF_SMALL).collect())
    assert a == b and len(a) > 0


def test_grouped_running_sum_matches_naive_window(spark):
    """grouped_running_sum must equal the textbook cumulative window on any
    input, including groups that span range-partition boundaries and
    duplicate order keys (total order restored by the tie-break column)."""
    import pandas as pd
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from gridiron_spark.operators.ordered import grouped_running_sum

    pdf = pd.DataFrame(
        {
            "g": ["a"] * 40 + ["b"] * 25 + ["c"] * 1,
            "ord": [i % 7 for i in range(66)],  # heavy duplicate order keys
            "tie": list(range(66)),
            "v": [(i * 13) % 11 for i in range(66)],
        }
    )
    df = spark.createDataFrame(pdf)
    got = grouped_running_sum(
        df, ["g"], ["ord", "tie"], "v", out_col="cs", num_partitions=8
    )
    want = df.withColumn(
        "cs",
        F.sum("v").over(
            W.partitionBy("g").orderBy("ord", "tie").rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    a = sorted((r.g, r.ord, r.tie, r.cs) for r in got.collect())
    b = sorted((r.g, r.ord, r.tie, r.cs) for r in want.collect())
    assert a == b


def test_bloom_prefilter_no_false_negatives_and_bounded_fp(spark):
    """The bloom guarantee: zero false negatives (every true match passes
    the sketch), and with m=8192/k=3 at this build cardinality the
    false-positive rate stays well under 5% of probed rows."""
    from tests.conftest import SF_ORACLE as _SF

    from gridiron_spark.queries import catalog as _cat

    rows = _cat()["bloom_prefilter_join"].spark_fn(spark, _SF).collect()
    assert rows
    total_probed = sum(r["n_probed"] for r in rows)
    total_fp = sum(r["n_false_pos"] for r in rows)
    for r in rows:
        # no false negatives: everything the exact join matches, the
        # sketch must also pass
        assert r["n_bloom_pass"] >= r["n_true"], r
        assert r["n_false_pos"] == r["n_bloom_pass"] - r["n_true"], r
    assert total_fp < 0.05 * total_probed, (total_fp, total_probed)


def test_bloom_bitset_is_tiny_and_broadcast(spark):
    """The sketch the probe side consumes must be ONE row holding the
    m/64 packed 64-bit words (a few KB regardless of build cardinality)
    and must reach the probe via broadcast — the property that makes the
    prefilter free of any probe-side shuffle. Round 13 swapped the sorted
    position-set (O(|set|) array_contains per probe hash) for the packed
    word array (O(1) element_at + bit test per probe hash); this pins the
    packed representation and the unchanged probe-side-never-shuffles
    contract."""
    from tests.conftest import SF_ORACLE as _SF

    from gridiron_spark.queries import catalog as _cat

    df = _cat()["bloom_prefilter_join"].spark_fn(spark, _SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan or "Broadcast" in plan, plan
    # the packed-word fold is in the plan (bit_or of shifted bits), and
    # the probe is an O(1) word lookup, not a set scan
    assert "bit_or" in plan, plan
    assert "array_contains" not in plan, plan
    # probe-side agg is the only probe hash shuffle: priority-keyed final
    import re

    shuffles = re.findall(
        r"Exchange (?:hash|range)partitioning|Exchange SinglePartition", plan
    )
    # build-side only: the custkey distinct (×2 — bitset build + the FP
    # verification join's broadcast side) + the word-index bit_or fold +
    # the 1-row SinglePartition pack + the final priority agg. The ORDERS
    # probe side must never shuffle before its own aggregation — pinned
    # by the count cap, since an orders-side join shuffle would add two
    # more exchanges (the probe-side fan_out is a round-robin exchange,
    # deliberately outside this regex: it moves no data to a key).
    assert len(shuffles) <= 5, (shuffles, plan)
