"""Model-based DATA-SELECTION passes over the ``documents`` corpus: the
standard pipeline stages an LLM pretraining run applies AFTER heuristic
quality gates (queries/quality.py) — perplexity filtering (CCNet),
importance resampling (DSIR), and robust statistical outlier pruning.

All three are selection decisions per document, engineered to the repo's
cross-engine-exact discipline: quantized-integer model tables ride in the
plan as literals, sums stay BIGINT, and each query performs at most one
IEEE division at the very end.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gridiron_spark.io.tables import load_table, pin
from gridiron_spark.operators.lm import (
    BUCKETS,
    dsir_logratio_table,
    table_fold,
    table_sql_literal,
    unigram_nlp_table,
)
from gridiron_spark.operators.quality_model import feature_array, tokens_expr
from gridiron_spark.functions.partitions import range_parts as _range_parts
from gridiron_spark.queries import register

# Keep threshold in deci-bits: in-vocab prose averages ~2–7 bits/token
# (20–69 deci-bits) under the Zipf table, OOV tokens cost 140 — a doc
# needs a meaningful rare-token fraction to cross 80.
_PPL_KEEP_NLP10 = 80

_DSIR_TOP_N = 100

_BUCKET_SQL = "CAST(CAST(('0x' || substring(md5({x}), 1, 8)) AS BIGINT) % {b} + 1 AS INT)"


@register(
    "perplexity_filter",
    survey="NS-text(model-based selection: CCNet perplexity filter, hashed unigram LM),F1-F7",
    oracle=f"""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
    FROM documents
),
s AS (
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(list_sum(list_transform(toks,
               x -> {table_sql_literal(unigram_nlp_table())}[{_BUCKET_SQL.format(x="x", b=BUCKETS)}]
           )), 0) AS BIGINT) AS nlp10_sum
    FROM t
)
SELECT doc_id, n_tokens, nlp10_sum,
       CASE WHEN n_tokens = 0 THEN 140.0
            ELSE CAST(nlp10_sum AS DOUBLE) / n_tokens END AS avg_nlp10,
       CAST(CASE WHEN n_tokens > 0
                  AND CAST(nlp10_sum AS DOUBLE) / n_tokens < {_PPL_KEEP_NLP10}
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM s
""",
)
def perplexity_filter(spark, sf_dir):
    """CCNet-style perplexity filtering (Wenzek et al. 2019): score every
    document under a hashed unigram LM (operators/lm.py — Zipf prior over
    the trusted vocabulary, md5 buckets, quantized deci-bit costs) and
    keep the low-perplexity tail. avg_nlp10 is the mean negative-log-prob
    in deci-bits: perplexity = 2^(avg_nlp10/10) is monotone in it, so the
    keep threshold on avg_nlp10 IS a perplexity threshold — without
    exp()'s engine-divergent last ulp (the margin-not-sigmoid trick).

    Scale shape: pure map over the corpus scan — tokenize, hash, literal
    table lookup, BIGINT fold, one division — zero exchanges, no explode,
    no Python; the LM rides inside the task binary, so 1000 executors
    need no side channel to serve it.
    """
    doc = load_table(spark, sf_dir, "documents")
    with_toks = doc.select("doc_id", tokens_expr().alias("toks"))
    scored = with_toks.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        table_fold(F.col("toks"), unigram_nlp_table()).alias("nlp10_sum"),
    )
    avg = F.when(F.col("n_tokens") == 0, F.lit(140.0)).otherwise(
        F.col("nlp10_sum").cast("double") / F.col("n_tokens")
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "nlp10_sum",
        avg.alias("avg_nlp10"),
        ((F.col("n_tokens") > 0) & (avg < _PPL_KEEP_NLP10))
        .cast("bigint")
        .alias("keep"),
    )


@register(
    "dsir_select_topk",
    survey="NS-text(model-based selection: DSIR importance resampling, hashed n-gram log-ratio),O1-O3,F1-F7",
    oracle=f"""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
    FROM documents
),
f AS (
    SELECT doc_id,
           list_concat(
               toks,
               list_transform(range(1, len(toks)),
                              i -> toks[i] || '_' || toks[i + 1])
           ) AS feats
    FROM t
),
w AS (
    SELECT doc_id,
           CAST(len(feats) AS BIGINT) AS n_feats,
           CAST(COALESCE(list_sum(list_transform(feats,
               x -> {table_sql_literal(dsir_logratio_table())}[{_BUCKET_SQL.format(x="x", b=BUCKETS)}]
           )), 0) AS BIGINT) AS logw10
    FROM f
)
SELECT doc_id, n_feats, logw10
FROM w
ORDER BY logw10 DESC, doc_id
LIMIT {_DSIR_TOP_N}
""",
)
def dsir_select_topk(spark, sf_dir):
    """DSIR (Xie et al. 2023, arXiv:2302.03169): weight every raw document
    by log p_target − log p_raw under two hashed bag-of-n-grams unigram
    models (words + adjacent bigrams, the fastText feature family) and
    select the head of the weight distribution. The two models collapse at
    plan time into one literal log-ratio table λ — the fold per document
    is Σ λ[bucket(feature)] in exact deci-bits, so the ranking is
    integer-deterministic cross-engine (ties broken by doc_id).

    Scale shape: the scoring is a zero-exchange map (hash + literal
    lookup + BIGINT fold); the only cross-partition step is the final
    top-N — a TakeOrderedAndProject whose driver residency is N rows,
    never the corpus. (Full weighted sampling without replacement — the
    paper's Gumbel-top-k — is the same plan with a seeded perturbation
    column; the deterministic head keeps the oracle exact.)
    """
    doc = load_table(spark, sf_dir, "documents")
    # materialize toks as a column BEFORE the bigram lambda references it:
    # inside a higher-order lambda the split is not subexpression-eliminated,
    # so an inline tokens_expr() would re-split the text per element_at —
    # measured 90x slower at x10 sf0.1 (the score_documents discipline)
    with_toks = doc.select("doc_id", tokens_expr().alias("toks"))
    feats = feature_array(F.col("toks"))
    scored = with_toks.select(
        "doc_id",
        F.size(feats).cast("bigint").alias("n_feats"),
        table_fold(feats, dsir_logratio_table()).alias("logw10"),
    )
    return scored.orderBy(F.col("logw10").desc(), "doc_id").limit(_DSIR_TOP_N)


@register(
    "robust_outlier_flags",
    survey="NS-text(robust statistical outlier pruning: per-source median/MAD),A3-A6,J1",
    oracle="""
WITH med AS (
    SELECT source, median(n_chars) AS med
    FROM documents GROUP BY source
),
dev AS (
    SELECT d.doc_id, d.source, d.n_chars, m.med,
           abs(d.n_chars - m.med) AS dev
    FROM documents d JOIN med m USING (source)
),
mad AS (
    SELECT source, median(dev) AS mad
    FROM dev GROUP BY source
)
SELECT v.doc_id, v.source, v.n_chars, v.med, a.mad,
       CAST(CASE WHEN v.dev > 3 * a.mad THEN 1 ELSE 0 END AS BIGINT)
           AS is_outlier
FROM dev v JOIN mad a USING (source)
""",
)
def robust_outlier_flags(spark, sf_dir):
    """Robust per-source outlier pruning — the length-distribution gate
    curation pipelines run per data source: flag documents whose size
    deviates from the SOURCE's median by more than 3× the median absolute
    deviation. Median/MAD (not mean/stddev) so the fences themselves
    don't move when the outliers they're meant to catch are present.
    All inputs are integers, so the interpolated medians are exact
    binary fractions and the comparison is cross-engine exact.

    Scale shape: two grouped aggregations over a low-cardinality source
    key, each result broadcast back over the corpus scan (AQE turns both
    join-backs into broadcasts at any realistic source count). Exact
    percentile sorts within each source group; at 100 TB per source the
    one-line swap is percentile → approx_percentile(·, 0.5, 10⁴) or the
    t-digest sketch (histogram_quantile_sketch is the in-repo sketch
    path) — kept exact here for the cross-engine hash gate.
    """
    doc = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    med = doc.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.5)").alias("med")
    )
    dev = doc.join(F.broadcast(med), "source").select(
        "doc_id",
        "source",
        "n_chars",
        "med",
        F.abs(F.col("n_chars") - F.col("med")).alias("dev"),
    )
    mad = dev.groupBy("source").agg(
        F.expr("percentile(dev, 0.5)").alias("mad")
    )
    return dev.join(F.broadcast(mad), "source").select(
        "doc_id",
        "source",
        "n_chars",
        "med",
        "mad",
        (F.col("dev") > 3 * F.col("mad")).cast("bigint").alias("is_outlier"),
    )


_CUR_BUCKET_NLP10 = 5  # curriculum phase width in deci-bits


@register(
    "curriculum_schedule",
    survey="NS-text(curriculum data ordering: difficulty phases + in-phase source interleave, range-exchange global numbering),O-global",
    oracle=f"""
WITH t AS (
    SELECT doc_id, source,
           list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
    FROM documents
),
s AS (
    SELECT doc_id, source,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(list_sum(list_transform(toks,
               x -> {table_sql_literal(unigram_nlp_table())}[{_BUCKET_SQL.format(x="x", b=BUCKETS)}]
           )), 0) AS BIGINT) AS nlp10_sum
    FROM t
),
b AS (
    SELECT doc_id, source,
           CAST(CASE WHEN n_tokens = 0 THEN 140 // {_CUR_BUCKET_NLP10}
                ELSE floor((CAST(nlp10_sum AS DOUBLE) / n_tokens)
                           / {_CUR_BUCKET_NLP10}) END AS BIGINT) AS phase,
           md5(CAST(doc_id AS VARCHAR) || '|cur') AS mix
    FROM s
)
SELECT doc_id, source, phase,
       CAST(ROW_NUMBER() OVER (ORDER BY phase, mix, doc_id) AS BIGINT) AS seq
FROM b
""",
)
def curriculum_schedule(spark, sf_dir):
    """Curriculum ordering for a training run: documents are scheduled
    easy-to-hard by perplexity PHASE (the hashed unigram LM's mean
    deci-bit cost, floored into 5-deci-bit phases) and, WITHIN each
    phase, shuffled across sources by an md5 mix key — so a training
    epoch sees difficulty ramp globally while every phase stays
    source-interleaved (no long single-source runs, the known
    batch-correlation failure mode). seq is a true global order.

    Scale shape: scoring is the perplexity_filter map (model is a plan
    literal, zero exchanges); the global sequence is the
    ranged_global_sort machinery — repartitionByRange over (phase, mix)
    + per-partition row_number + a |partitions|-row broadcast offset
    table — NEVER a single-task global window. The phase boundary is a
    floor over a bit-identical double, so both engines agree on every
    bucket edge."""
    from pyspark.sql import Window as W

    doc = load_table(spark, sf_dir, "documents")
    with_toks = doc.select(
        "doc_id", "source", tokens_expr().alias("toks")
    )
    scored = with_toks.select(
        "doc_id",
        "source",
        F.size("toks").cast("bigint").alias("n_tokens"),
        table_fold(F.col("toks"), unigram_nlp_table()).alias("nlp10_sum"),
    )
    phase = F.when(
        F.col("n_tokens") == 0, F.lit(140 // _CUR_BUCKET_NLP10).cast("bigint")
    ).otherwise(
        F.floor(
            (F.col("nlp10_sum").cast("double") / F.col("n_tokens"))
            / _CUR_BUCKET_NLP10
        ).cast("bigint")
    )
    b = scored.select(
        "doc_id",
        "source",
        phase.alias("phase"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|cur"))).alias(
            "mix"
        ),
    )
    srt = pin(
        b.repartitionByRange(_range_parts(spark), "phase", "mix", "doc_id")
        .withColumn("pid", F.spark_partition_id()),
        eager=False,
    )
    local = srt.select(
        "doc_id",
        "source",
        "phase",
        "pid",
        F.row_number()
        .over(W.partitionBy("pid").orderBy("phase", "mix", "doc_id"))
        .alias("local_rn"),
    )
    offsets = (
        local.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "pid",
            (
                F.sum("n").over(
                    W.orderBy("pid").rowsBetween(
                        W.unboundedPreceding, W.currentRow
                    )
                )
                - F.col("n")
            ).alias("offset"),
        )
    )
    return (
        local.join(F.broadcast(offsets), "pid")
        .select(
            "doc_id",
            "source",
            "phase",
            (F.col("local_rn") + F.col("offset")).cast("bigint").alias("seq"),
        )
    )


@register(
    "quantile_normalize_scores",
    survey="NS-selection(cross-source score calibration: exact rank-based quantile normalization onto the pooled distribution; grouped + global ranks via ONE range exchange each),W1-W3,O1-O2,J1,A3-A6",
    oracle="""
WITH sc AS (
    SELECT doc_id, source,
           CAST(least(n_chars // 20, 100)
                + least((len(text) - len(replace(text, ' ', ''))) // 5, 40)
                + CASE WHEN lang = 'en' THEN 50 ELSE 0 END AS BIGINT)
               AS score
    FROM documents
),
r AS (
    SELECT doc_id, source, score,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY score, doc_id) AS r,
           COUNT(*) OVER (PARTITION BY source) AS ns
    FROM sc
),
p AS (
    SELECT score AS pooled_score,
           ROW_NUMBER() OVER (ORDER BY score, doc_id) AS p
    FROM sc
),
t AS (SELECT COUNT(*) AS n FROM sc)
SELECT r.doc_id, r.source, r.score,
       CAST(pp.pooled_score AS BIGINT) AS norm_score
FROM r CROSS JOIN t
JOIN p pp ON pp.p = (r.r * t.n + r.ns - 1) // r.ns
""",
)
def quantile_normalize_scores(spark, sf_dir):
    """Cross-source quantile normalization of a per-document quality
    score — the calibration stage before any mixture policy COMPARES
    scores across sources (a raw threshold of 120 means different things
    on a news crawl and a forum dump; after rank-matching onto the POOLED
    score distribution, "top 10% of source X" and "top 10% of source Y"
    are the same bar). Exact integer formulation: doc at ascending rank
    r of its source's n_s maps to pooled position ceil(r·N/n_s) and
    takes the pooled sorted score at that position — deterministic under
    the (score, doc_id) total order, no floats anywhere.

    Scale shape: a bare ``row_number() OVER (ORDER BY score)`` would be
    the single-task global window the plan linter bans; both ranks are
    built with the ranged_global_sort machinery instead — ONE
    repartitionByRange exchange each, per-partition local row_number,
    then |partitions|-sized offset tables (cumulative-summed in a window
    over pids, broadcast back). The grouped rank generalizes it: range
    exchange on (source, score, doc_id) keeps each source contiguous
    across partitions, so per-source offsets cumsum over (source, pid)
    rows — a |sources|·|partitions| table. The final position lookup is
    a plain equi-join on the pooled rank. Two range exchanges + one
    equi-join total; no per-source single-partition sort, so the Zipf
    source-size skew never concentrates in one task. A pin freezes
    each exchange's sample-derived range boundaries before the plan
    forks over partition ids (the ranged_global_sort determinism note).
    """
    from pyspark.sql import Window as W

    from gridiron_spark.queries.domains import _SCORE_SPARK

    sc = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(_SCORE_SPARK).cast("bigint").alias("score")
    )
    # grouped global rank: ONE range exchange on (source, score, doc_id)
    srt = pin(
        sc.repartitionByRange(_range_parts(spark), "source", "score", "doc_id")
        .withColumn("pid", F.spark_partition_id()),
        eager=False,
    )
    local = srt.withColumn(
        "lrn",
        F.row_number().over(
            W.partitionBy("pid", "source").orderBy("score", "doc_id")
        ),
    )
    cnt = local.groupBy("source", "pid").agg(F.count(F.lit(1)).alias("c"))
    offs = cnt.select(
        "source",
        "pid",
        F.sum("c")
        .over(
            W.partitionBy("source")
            .orderBy("pid")
            .rowsBetween(W.unboundedPreceding, -1)
        )
        .alias("off"),
    )
    ns = cnt.groupBy("source").agg(F.sum("c").cast("bigint").alias("ns"))
    ranked = (
        local.join(F.broadcast(offs), ["source", "pid"])
        .select(
            "doc_id",
            "source",
            "score",
            (F.col("lrn") + F.coalesce(F.col("off"), F.lit(0)))
            .cast("bigint")
            .alias("r"),
        )
    )
    # pooled global rank: second range exchange, no grouping
    psrt = pin(
        sc.repartitionByRange(_range_parts(spark), "score", "doc_id")
        .withColumn("pid", F.spark_partition_id()),
        eager=False,
    )
    plocal = psrt.withColumn(
        "lrn",
        F.row_number().over(W.partitionBy("pid").orderBy("score", "doc_id")),
    )
    pcnt = plocal.groupBy("pid").agg(F.count(F.lit(1)).alias("c"))
    poffs = pcnt.select(
        "pid",
        F.sum("c")
        .over(W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1))
        .alias("off"),
    )
    pooled = (
        plocal.join(F.broadcast(poffs), "pid")
        .select(
            (F.col("lrn") + F.coalesce(F.col("off"), F.lit(0)))
            .cast("bigint")
            .alias("p"),
            F.col("score").cast("bigint").alias("pooled_score"),
        )
    )
    tot = pcnt.agg(F.sum("c").cast("bigint").alias("n"))
    return (
        ranked.join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .withColumn("p", F.expr("(r * n + ns - 1) div ns").cast("bigint"))
        .join(pooled, "p")
        .select(
            "doc_id",
            "source",
            "score",
            F.col("pooled_score").alias("norm_score"),
        )
    )


_NDIST_SPARK = (
    "size(array_distinct(filter(split(lower(text), ' '), t -> t != '')))"
)
_NDIST_SQL = (
    "len(list_distinct(list_filter(string_split(lower(text), ' '), "
    "t -> t <> '')))"
)


@register(
    "skyline_pareto_docs",
    survey="NS-selection(Pareto-frontier document selection over two quality objectives WITHOUT an all-pairs dominance join: score-histogram + running-max over grouped rows + broadcast join-back),W2,A3-A6,J1",
    oracle=f"""
WITH s AS (
    SELECT doc_id,
           CAST(least(n_chars // 20, 100)
                + least((len(text) - len(replace(text, ' ', ''))) // 5, 40)
                + CASE WHEN lang = 'en' THEN 50 ELSE 0 END AS BIGINT) AS score,
           CAST({_NDIST_SQL} AS BIGINT) AS n_distinct_tokens
    FROM documents
)
SELECT a.doc_id, a.score, a.n_distinct_tokens
FROM s a
WHERE NOT EXISTS (
    SELECT 1 FROM s b
    WHERE b.score >= a.score AND b.n_distinct_tokens >= a.n_distinct_tokens
      AND (b.score > a.score OR b.n_distinct_tokens > a.n_distinct_tokens)
)
""",
)
def skyline_pareto_docs(spark, sf_dir):
    """Pareto-frontier (skyline) document selection over two MAXIMIZE
    objectives — coarse quality score and lexical diversity (distinct
    token count): the docs no other doc beats on both axes at once, the
    exact trade-off set a curation run inspects before committing to any
    single weighting of its objectives. Strict-dominance semantics (ties
    on both axes co-survive), replayed by the oracle as the textbook
    NOT-EXISTS dominance anti-join.

    Scale shape: the O(n²) dominance join never happens. A point
    survives iff y = M2(x) and y > M1(x), where M2 is its own score
    group's max diversity and M1 the running max over strictly higher
    scores — so the plan is ONE map-side-combined (score → max y)
    histogram aggregate (≤ |score buckets| ≈ 190 rows, corpus-
    independent), a running-max window over those HISTOGRAM rows only
    (the bounded-global-window pattern, reviewed in the plan linter),
    and a broadcast equi-join back on the score. Two linear passes
    total; output is bounded by the score cardinality (one frontier
    point per distinct score at most). A k-objective skyline (k > 2)
    loses this histogram factorization and needs block-nested
    partitioned dominance — out of scope, stated honestly.
    """
    from pyspark.sql import Window as W

    from gridiron_spark.queries.domains import _SCORE_SPARK

    s = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_SCORE_SPARK).cast("bigint").alias("score"),
        F.expr(_NDIST_SPARK).cast("bigint").alias("n_distinct_tokens"),
    )
    hist = s.groupBy("score").agg(F.max("n_distinct_tokens").alias("y_max"))
    run = hist.withColumn(
        "y_above",
        F.max("y_max").over(
            W.orderBy(F.desc("score")).rowsBetween(W.unboundedPreceding, -1)
        ),
    )
    return (
        s.join(F.broadcast(run), "score")
        .filter(
            (F.col("n_distinct_tokens") == F.col("y_max"))
            & (
                F.col("y_above").isNull()
                | (F.col("n_distinct_tokens") > F.col("y_above"))
            )
        )
        .select("doc_id", "score", "n_distinct_tokens")
    )


_EPOCH_SEED = "ep1|"
_EPOCH_DECILES = 10


@register(
    "epoch_shuffle_interleave",
    survey="NS-selection(deterministic epoch shuffle: seeded-hash global permutation via the ranged-sort machinery + per-(source, decile) interleaving audit),O2,W2,A3-A6",
    oracle=f"""
WITH r AS (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (
               ORDER BY md5('{_EPOCH_SEED}' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS rk,
           COUNT(*) OVER () AS n
    FROM documents
)
SELECT source,
       CAST((rk - 1) * {_EPOCH_DECILES} // n AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       CAST(SUM(rk) AS BIGINT) AS rank_sum
FROM r
GROUP BY source, (rk - 1) * {_EPOCH_DECILES} // n
""",
)
def epoch_shuffle_interleave(spark, sf_dir):
    """Deterministic training-epoch shuffle + interleaving audit: every
    document takes position rank(md5(seed‖doc_id)) in the epoch — a
    seeded hash permutation, so re-runs and resumed jobs reproduce the
    byte-identical batch order with NO stored shuffle table — and the
    output audits what a shuffle is FOR: per (source, epoch-decile)
    counts with exact membership (id_sum) and placement (rank_sum)
    checksums, showing every source spread evenly across the epoch
    rather than arriving in corpus order (the correlated-batch failure
    mode of unshuffled training data).

    Scale shape: the global rank is the ranged_global_sort anatomy, NOT
    a single-task window — repartitionByRange on (hash, doc_id) (the
    hash is uniform, so range partitions are balanced BY CONSTRUCTION —
    no skew caveat), per-partition local row_number, and a broadcast
    |partitions|-row offset table cumsum'd in a bounded global window
    (reviewed in the linter). A pin freezes the sample-derived
    range boundaries before the plan forks over partition ids. The
    decile arithmetic rides on a 1-row broadcast corpus total; the
    audit rollup is one map-side-combined aggregate over
    |sources|×{_EPOCH_DECILES} cells.
    """
    from pyspark.sql import Window as W

    doc = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.concat(F.lit(_EPOCH_SEED), F.col("doc_id").cast("string"))).alias(
            "ord"
        ),
    )
    srt = pin(
        doc.repartitionByRange(_range_parts(spark), "ord", "doc_id")
        .withColumn("pid", F.spark_partition_id()),
        eager=False,
    )
    local = srt.withColumn(
        "lrn", F.row_number().over(W.partitionBy("pid").orderBy("ord", "doc_id"))
    )
    cnt = local.groupBy("pid").agg(F.count(F.lit(1)).alias("c"))
    offs = cnt.select(
        "pid",
        F.sum("c")
        .over(W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1))
        .alias("off"),
    )
    tot = cnt.agg(F.sum("c").cast("bigint").alias("n"))
    return (
        local.join(F.broadcast(offs), "pid")
        .withColumn("rk", F.col("lrn") + F.coalesce(F.col("off"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
        .groupBy(
            "source",
            F.expr(f"(rk - 1) * {_EPOCH_DECILES} div n")
            .cast("bigint")
            .alias("decile"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_sum"),
            F.sum("rk").cast("bigint").alias("rank_sum"),
        )
    )


_DIVR_SPARK = (
    "(size(array_distinct(filter(split(lower(text), ' '), t -> t != ''))) "
    "* 1000) div greatest(size(filter(split(lower(text), ' '), t -> t != '')), 1)"
)
_DIVR_SQL = (
    "(len(list_distinct(list_filter(string_split(lower(text), ' '), "
    "t -> t <> ''))) * 1000) // greatest(len(list_filter(string_split("
    "lower(text), ' '), t -> t <> '')), 1)"
)


@register(
    "skyline_pareto_3d",
    survey="NS-selection(k-objective Pareto skyline, k=3 — the regime the 2-D histogram factorization cannot reach: partition-local frontiers via applyInPandas, broadcast candidate set, non-equi anti-join verify),J1,A3-A6",
    oracle=f"""
WITH s AS (
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST({_NDIST_SQL} AS BIGINT) AS n_distinct_tokens,
           CAST({_DIVR_SQL} AS BIGINT) AS diversity_permille
    FROM documents
)
SELECT a.doc_id, a.n_chars, a.n_distinct_tokens, a.diversity_permille
FROM s a
WHERE NOT EXISTS (
    SELECT 1 FROM s b
    WHERE b.n_chars >= a.n_chars
      AND b.n_distinct_tokens >= a.n_distinct_tokens
      AND b.diversity_permille >= a.diversity_permille
      AND (b.n_chars > a.n_chars
           OR b.n_distinct_tokens > a.n_distinct_tokens
           OR b.diversity_permille > a.diversity_permille)
)
""",
)
def skyline_pareto_3d(spark, sf_dir):
    """Three-objective Pareto frontier — length (n_chars), lexical
    breadth (distinct tokens), and lexical density (distinct/total per
    mille): the first two correlate, the third ANTI-correlates with
    length, so the frontier is a genuine trade-off surface, the doc set
    a curation run studies when no scalar score is agreed on yet.
    `skyline_pareto_docs`' histogram factorization is 2-D-only (its
    docstring says so); this is the k > 2 shape that replaces it:

    1. partition-local skylines via `applyInPandas` over
       `spark_partition_id()` — set-wise dominance has no SQL form, so
       this is the sanctioned Arrow-batched escape hatch; each task
       reduces its partition to its local frontier (vectorized numpy
       dominance, cost bounded by the partition, never the corpus);
    2. the candidate union (Σ local frontier sizes — output-sensitive,
       like every skyline algorithm) broadcasts into
    3. one non-equi LEFT ANTI join: a doc survives iff NO candidate
       strictly dominates it.

    Soundness is partition-invariant by transitivity: any dominator of p
    is either a local-frontier candidate or is itself strictly dominated
    by one, and strict dominance composes — so the anti-join recovers
    the EXACT global frontier under any partitioning (pytest pins
    repartition-count invariance and brute-force equality). The BNLJ is
    reviewed: its build side is the candidate frontier, not the corpus.
    Degenerate limit stated honestly: fully anti-correlated objectives
    make the frontier — the true answer — large, and every skyline
    algorithm is output-sensitive; the broadcast assumes the frontier
    fits an executor, else stage 3 falls back to a range-partitioned
    join on the first objective.
    """
    import pandas as pd

    s = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.expr(_NDIST_SPARK).cast("bigint").alias("n_distinct_tokens"),
        F.expr(_DIVR_SPARK).cast("bigint").alias("diversity_permille"),
    )

    def local_skyline(pdf: pd.DataFrame) -> pd.DataFrame:
        # O(m·f) running-frontier sweep, NOT the O(m²) all-pairs loop (the
        # r10 probe measured that one at alpha=1.6 as partitions grew):
        # strict dominance implies a strictly larger coordinate sum, so in
        # sum-descending order every dominator precedes its victims and
        # each point need only be checked against the frontier built so
        # far. Chunks keep the numpy broadcasts flat; within a chunk,
        # survivors of the frontier check run the pairwise sweep against
        # each other (sufficient by transitivity: a dominated dominator's
        # own dominator is an earlier survivor).
        import numpy as np

        cols = ["n_chars", "n_distinct_tokens", "diversity_permille"]
        m = pdf[cols].to_numpy(dtype=np.int64)
        order = np.argsort(-m.sum(axis=1), kind="stable")
        m = m[order]
        front = np.empty((0, 3), dtype=np.int64)
        kept_rows = []
        chunk_sz = 4096
        for lo in range(0, len(m), chunk_sz):
            chunk = m[lo:lo + chunk_sz]
            idx = order[lo:lo + chunk_sz]
            if len(front):
                ge = (front[None, :, :] >= chunk[:, None, :]).all(axis=2)
                gt = (front[None, :, :] > chunk[:, None, :]).any(axis=2)
                alive = ~(ge & gt).any(axis=1)
            else:
                alive = np.ones(len(chunk), dtype=bool)
            surv, sidx = chunk[alive], idx[alive]
            keep = np.ones(len(surv), dtype=bool)
            for i in range(len(surv)):
                ge = (surv >= surv[i]).all(axis=1)
                gt = (surv > surv[i]).any(axis=1)
                if (ge & gt).any():
                    keep[i] = False
            front = np.concatenate([front, surv[keep]])
            kept_rows.append(sidx[keep])
        keep_idx = (
            np.concatenate(kept_rows) if kept_rows
            else np.empty(0, dtype=np.int64)
        )
        return pdf.iloc[keep_idx][["doc_id", *cols]]

    cand = (
        s.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .applyInPandas(
            lambda pdf: local_skyline(pdf),
            "doc_id bigint, n_chars bigint, n_distinct_tokens bigint, "
            "diversity_permille bigint",
        )
    )
    c = cand.select(
        F.col("n_chars").alias("cx"),
        F.col("n_distinct_tokens").alias("cy"),
        F.col("diversity_permille").alias("cz"),
    )
    dominated = (
        (F.col("cx") >= F.col("n_chars"))
        & (F.col("cy") >= F.col("n_distinct_tokens"))
        & (F.col("cz") >= F.col("diversity_permille"))
        & (
            (F.col("cx") > F.col("n_chars"))
            | (F.col("cy") > F.col("n_distinct_tokens"))
            | (F.col("cz") > F.col("diversity_permille"))
        )
    )
    return s.join(F.broadcast(c), dominated, "left_anti")
