"""Curation analytics — the queries a data team runs ON the dedup/cluster
machinery itself: cluster-balanced sampling, a cross-source contamination
matrix, and an estimator-error evaluation of the MinHash signatures. All
composed from the existing operators (lloyd_assign, minhash signatures,
candidate verification) with the same exactness conventions.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from gridiron_spark.functions.vectors import matches
from gridiron_spark.io.tables import load_table
from gridiron_spark.queries import register
from gridiron_spark.queries.dedup import _JACCARD_SQL, _SHINGLES_CTE
from gridiron_spark.queries.similarity import (
    _KMEANS_K,
    _KMEANS_ROUNDS,
    _L2_AB,
    kmeans_ctes,
)

_BAL_PER_CLUSTER = 20


@register(
    "cluster_balanced_sample",
    survey="NS-sampling(cluster-balanced curation sample: converged k-means assign + per-cluster quota),O5,W2",
    oracle=f"""
WITH {kmeans_ctes(_KMEANS_K, _KMEANS_ROUNDS)},
a AS (
    SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cluster,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_L2_AB.format(a="e.embedding", b="c.cvec")}, c.cluster
               ) AS arn
        FROM embeddings e CROSS JOIN c{_KMEANS_ROUNDS} c
    ) WHERE arn = 1
),
r AS (
    SELECT vec_id, cluster,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY cluster
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rn
    FROM a
)
SELECT vec_id, cluster, rn FROM r WHERE rn <= {_BAL_PER_CLUSTER}
""",
)
def cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced curation sampling (the SemDeDup/DoReMi-adjacent
    move): assign every embedding to its nearest seed centroid, then keep
    an equal quota per cluster in deterministic md5 order — an embedding-
    diversity-preserving sample, where a uniform sample would mirror the
    corpus's cluster imbalance.

    Scale shape: assignment is the kmeans_converged_assign plan (broadcast
    centroids — now the CONVERGED ones off the shared staged artifact, not
    first-K seeds — ordered-fold L2, rank-1 WindowGroupLimit); the
    per-cluster quota numbering reuses grouped_running_sum's range-exchange
    prefix-sum — k is small, so a bare cluster window would single-task
    the corpus.
    """
    from gridiron_spark.operators.ordered import grouped_running_sum
    from gridiron_spark.operators.similarity import lloyd_assign
    from gridiron_spark.queries.similarity import staged_kmeans_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = staged_kmeans_centroids(spark, sf_dir)
    assigned = lloyd_assign(emb, cents).select(
        "vec_id",
        "cluster",
        F.md5(F.col("vec_id").cast("string")).alias("ord"),
        F.lit(1).alias("one"),
    )
    numbered = grouped_running_sum(
        assigned, ["cluster"], ["ord", "vec_id"], "one", out_col="rn"
    )
    return numbered.filter(F.col("rn") <= _BAL_PER_CLUSTER).select(
        "vec_id", "cluster", "rn"
    )


# MinHash LSH candidate CTE — identical parameters to dedup_minhash_lsh
# (16 hashes, 4 bands of 4), so the estimator evaluation and the matrix
# grade the exact production configuration.
_LSH_CAND_CTE = f"""
{_SHINGLES_CTE},
sig AS (
    SELECT doc_id, shingles,
           list_transform(range(0, 16), i ->
               list_min(list_transform(shingles, s -> md5(s || '|' || i)))) AS sig
    FROM sh
),
banded AS (
    SELECT doc_id, ub.b AS band_idx,
           md5(array_to_string(sig[ub.b*4+1 : ub.b*4+4], '|')) AS band_key
    FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) ub
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
)
""".strip()


# The verified candidate-pair artifact: every LSH candidate pair with its
# signature-estimated AND exact Jaccard. Mined once per (sf_dir), staged to
# parquet under the sinks.py _SUCCESS-gated convention, and REUSED by both
# curation reports below — at 100 TB nobody re-mines candidates to grade an
# estimator or build a contamination matrix; the dedup pipeline's verified
# pairs are the shared input. Parquet round-trips IEEE doubles bit-exactly,
# so consumers hash-match oracles that recompute from scratch.
_PAIRS_SCHEMA = (
    "doc_a bigint, doc_b bigint, est_jaccard double, jaccard double"
)


def _mine_candidate_pairs(spark, sf_dir):
    """(doc_a, doc_b, est_jaccard, jaccard) for every LSH candidate pair —
    the production MinHash config (16 hashes, 4 bands of 4), exact Jaccard
    via the set-form candidate verifier. Signatures join back by doc_id, so nothing
    is recomputed per pair."""
    from gridiron_spark.operators.dedup import (
        band_keys,
        minhash_signature_df,
        pair_intersection_counts,
        shingle_rows,
    )

    doc = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(doc)
    sig = minhash_signature_df(sh)
    banded = sig.select(
        "doc_id",
        F.posexplode(band_keys(F.col("sig"), 4, 4)).alias("band_idx", "band_key"),
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    exact = pair_intersection_counts(sh, candidates=cand)
    est = (
        cand.join(sig.select(F.col("doc_id").alias("doc_a"),
                             F.col("sig").alias("sig_a")), "doc_a")
        .join(sig.select(F.col("doc_id").alias("doc_b"),
                         F.col("sig").alias("sig_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (matches("sig_a", "sig_b") / F.lit(16.0)).alias("est_jaccard"),
        )
    )
    return est.join(exact, ["doc_a", "doc_b"]).select(
        "doc_a", "doc_b", "est_jaccard", "jaccard"
    )


def staged_pairs(spark, sf_dir):
    """Read the staged candidate-pair artifact, mining + writing it first
    if absent (atomic rename + _SUCCESS gate, io/staging.py). The key
    hashes the MinHash/LSH parameters, so a config edit re-mines instead
    of aliasing a stale artifact. Explicit read schema so an empty corpus
    still round-trips."""
    from gridiron_spark.io.staging import ensure_stage, stage_path

    stage = stage_path(
        sf_dir, "cand_pairs", "documents",
        params={"n_hashes": 16, "bands": 4, "rows_per_band": 4,
                "shingle_k": 3},
    )
    ensure_stage(
        stage,
        lambda p: _mine_candidate_pairs(spark, sf_dir)
        .write.mode("overwrite")
        .parquet(p),
    )
    return spark.read.schema(_PAIRS_SCHEMA).parquet(stage)


@register(
    "staged_candidate_pairs",
    survey="NS-dedup(staged verified candidate-pair artifact: mine once, reuse),S5,J1",
    oracle=f"""
WITH {_LSH_CAND_CTE}
SELECT c.doc_a, c.doc_b,
       list_sum(list_transform(list_zip(sa.sig, sb.sig),
                p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) / 16.0
           AS est_jaccard,
       {_JACCARD_SQL} AS jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
JOIN sh x ON x.doc_id = c.doc_a
JOIN sh y ON y.doc_id = c.doc_b
""",
)
def staged_candidate_pairs(spark, sf_dir):
    """The staged artifact itself as a driver-checkable round-trip: the
    oracle re-mines every LSH candidate pair from raw text, the Spark side
    answers from the parquet stage — so the hash check proves the mined
    artifact is byte-equivalent to a from-scratch recompute (any staleness,
    row loss, or double drift flips it). Downstream,
    source_contamination_matrix and minhash_estimate_error read this stage
    instead of re-featurizing the corpus."""
    return staged_pairs(spark, sf_dir)


@register(
    "source_contamination_matrix",
    survey="NS-dedup(cross-source contamination matrix over near-dup pairs),J1,A3",
    oracle=f"""
WITH {_LSH_CAND_CTE},
pairs AS (
    SELECT c.doc_a, c.doc_b
    FROM cand c
    JOIN sh x ON x.doc_id = c.doc_a
    JOIN sh y ON y.doc_id = c.doc_b
    WHERE {_JACCARD_SQL} >= 0.5
)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       COUNT(*) AS n_pairs
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
GROUP BY 1, 2
""",
)
def source_contamination_matrix(spark, sf_dir):
    """WHO copies from WHOM: near-duplicate pairs (the production MinHash
    LSH config, exact-Jaccard verified at 0.5) rolled up into an unordered
    source×source matrix — the report that tells a data team which feeds
    share boilerplate or mirror each other before mixing weights are set.

    Scale shape: pairs come from the staged artifact (see
    staged_candidate_pairs) — the corpus is never re-featurized; the
    roll-up joins the (tiny, overlap-sized) pair side to the doc→source
    map and aggregates |sources|² rows at most. Sources are canonically
    ordered with least/greatest so A→B and B→A collapse into one cell.
    """
    doc = load_table(spark, sf_dir, "documents")
    pairs = staged_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.5)
    src = doc.select("doc_id", "source")
    labeled = (
        pairs.join(src.withColumnRenamed("source", "src_a"),
                   pairs["doc_a"] == src["doc_id"])
        .drop("doc_id")
        .join(src.withColumnRenamed("source", "src_b").alias("s2"),
              F.col("doc_b") == F.col("s2.doc_id"))
    )
    return (
        labeled.select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "minhash_estimate_error",
    survey="NS-dedup(estimator evaluation: signature Jaccard vs exact, per candidate pair),J1,F",
    oracle=f"""
WITH {_LSH_CAND_CTE}
SELECT c.doc_a, c.doc_b,
       list_sum(list_transform(list_zip(sa.sig, sb.sig),
                p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) / 16.0
           AS est_jaccard,
       {_JACCARD_SQL} AS jaccard,
       abs(list_sum(list_transform(list_zip(sa.sig, sb.sig),
                    p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) / 16.0
           - {_JACCARD_SQL}) AS abs_err
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
JOIN sh x ON x.doc_id = c.doc_a
JOIN sh y ON y.doc_id = c.doc_b
""",
)
def minhash_estimate_error(spark, sf_dir):
    """Estimator evaluation IN the engine (the signature analog of
    ann_recall_eval): for every LSH candidate pair, the signature-estimated
    Jaccard (matching positions / 16 — a k/16 grid, bit-exact) against the
    exact shingle-set Jaccard, with the absolute error. This is how a
    pipeline owner decides whether 16 hashes suffice before trusting
    signature-only incremental screening at 100 TB. Both Jaccards come off
    the staged artifact (see staged_candidate_pairs); abs_err over two
    parquet-round-tripped doubles is bit-identical to computing it at mine
    time."""
    p = staged_pairs(spark, sf_dir)
    return p.select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        "jaccard",
        F.abs(F.col("est_jaccard") - F.col("jaccard")).alias("abs_err"),
    )


@register(
    "lsh_recall_curve",
    survey="NS-dedup(LSH config grading: measured recall vs exact Jaccard, per-similarity bucket),A3-A6,J1",
    oracle=f"""
WITH {_LSH_CAND_CTE},
truth AS (
    SELECT * FROM (
        SELECT c2.doc_a, c2.doc_b, {_JACCARD_SQL} AS jaccard
        FROM (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh) a
            JOIN (SELECT doc_id, unnest(shingles) AS shingle FROM sh) b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        ) c2
        JOIN sh x ON x.doc_id = c2.doc_a
        JOIN sh y ON y.doc_id = c2.doc_b
    ) WHERE jaccard >= 0.25
)
SELECT CAST(least(floor(t.jaccard * 10), 9) AS BIGINT) AS bucket,
       COUNT(*) AS n_truth,
       CAST(SUM(CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END) AS BIGINT)
           AS n_hit,
       CAST(SUM(CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
           / COUNT(*) AS recall
FROM truth t
LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
GROUP BY 1
""",
)
def lsh_recall_curve(spark, sf_dir):
    """Grade the production LSH configuration against EXACT ground truth —
    the report a data team reads before trusting a near-dup config at
    100 TB: for every true pair with Jaccard >= 0.25 (full-recall
    inverted-index blocking), was it among the MinHash-LSH candidates?
    Bucketed by Jaccard decile, this is the measured S-curve of the
    16-hash/4x4-band config: recall should rise steeply through the 0.5
    operating threshold (P_capture = 1-(1-J^4)^4) and the low buckets
    SHOULD miss — that is the pruning working as designed.

    Scale shape: the LSH side answers from the staged candidate-pair
    artifact (mined once per source fingerprint — nothing re-featurized);
    the truth side is the exact inverted-index join, the expensive
    full-recall pass — at 100 TB this report runs on a documented SAMPLE
    of the corpus (grading needs statistics, not every pair), while the
    LSH side scales by design. Output is <=10 rows.
    """
    from gridiron_spark.operators.dedup import ngram_jaccard_pairs

    doc = load_table(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(doc, threshold=0.25, shingle_k=3)
    cand = (
        staged_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("_hit", F.lit(1))
    )
    bucket = F.least(F.floor(F.col("jaccard") * 10), F.lit(9)).cast("bigint")
    return (
        truth.join(cand, ["doc_a", "doc_b"], "left")
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hit"),
            (
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1))
            ).alias("recall"),
        )
    )


_WS_K = 100      # sample size
_WS_SCALE = 1024  # priority resolution multiplier


@register(
    "weighted_sample_topk",
    survey="NS-sampling(deterministic weighted sample without replacement via integer hash priorities),O5,O1",
    oracle=f"""
WITH s AS (
    SELECT doc_id, source, n_chars,
           CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) * {_WS_SCALE} // GREATEST(n_chars, 1) AS priority
    FROM documents
)
SELECT doc_id, source, n_chars, priority
FROM s
ORDER BY priority, doc_id
LIMIT {_WS_K}
""",
)
def weighted_sample_topk(spark, sf_dir):
    """Deterministic weighted sampling without replacement — the mixture
    primitive that upgrades O5's uniform exact-n sampler to
    IMPORTANCE-weighted selection (sample long documents more, the
    standard length-proportional pretraining draw): each doc gets an
    integer priority hash(id)*{_WS_SCALE} div weight and the {_WS_K}
    smallest win. This is the integer-exact member of the
    Efraimidis-Spirakis A-ES family: A-ES ranks by u^(1/w) (equivalently
    -ln(u)/w, exponential races), which is exactly weight-proportional
    but needs ln/pow — engine-divergent in the last ulp, so not
    hash-certifiable; the linear-ratio priority keeps the same
    hash-uniform, weight-monotone race (double the weight, halve the
    expected priority) with every comparison on BIGINTs, and the
    deviation from exact w-proportional inclusion is stated here, as the
    fusion entry's Borda-for-RRF substitution established. Reruns are
    reproducible bit-for-bit and the sample is stable under corpus
    re-partitioning — the properties a training-data draw actually
    needs.

    Scale shape: priorities are a pure map over the scan;
    selection is orderBy+limit, which Spark executes as
    TakeOrderedAndProject — per-task {_WS_K}-row heaps and a
    driver-side merge of maps x {_WS_K} rows, NO global sort, no
    shuffle of the corpus. At 100 TB the cost is the scan plus a
    constant-size reduction; a per-source stratified draw is the same
    plan with the heap keyed by source (topk_per_group's
    WindowGroupLimit shape)."""
    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.expr(
            f"cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)"
            f" as bigint) * {_WS_SCALE} div greatest(n_chars, 1L)"
        ).alias("priority"),
    )
    return s.orderBy("priority", "doc_id").limit(_WS_K)
