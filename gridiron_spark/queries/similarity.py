"""Similarity search over the ``embeddings`` table (array<float> vectors).

Brute-force cosine top-k is the exactness baseline (and the oracle-checkable
variant); the LSH-bucketed scale path lives in
gridiron_spark.operators.similarity. The brute-force plan is a broadcast of
the (tiny) query-vector side against a single pass over the embedding table +
TakeOrderedAndProject — at 100 TB that is one map-only scan, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gridiron_spark.functions.vectors import cosine, int_dot, int_l2_sq
from gridiron_spark.io.tables import fan_out, load_table, observed_pin, pin
from gridiron_spark.queries import register

_QUERY_VEC_ID = 0
_TOP_K = 10

_COS_SQL = """
list_sum(list_transform(list_zip(e.embedding, q.embedding),
         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
/ (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
 * sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
""".strip()


@register(
    "ann_cosine_topk",
    survey="NS-sim(brute-force cosine top-k),O5,J1",
    oracle=f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = {_QUERY_VEC_ID})
SELECT e.vec_id,
       e.label,
       {_COS_SQL} AS cos_sim
FROM embeddings e, q
WHERE e.vec_id <> {_QUERY_VEC_ID}
ORDER BY cos_sim DESC, e.vec_id
LIMIT {_TOP_K}
""",
)
def ann_cosine_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select(F.col("embedding").alias("q_embedding"))
    )
    scored = (
        emb.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            cosine(F.col("embedding"), F.col("q_embedding")).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), "vec_id").limit(_TOP_K)


_COS_AB = """
list_sum(list_transform(list_zip({a}, {b}),
         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
/ (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
 * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
""".strip()


@register(
    "ann_ivf_topk",
    survey="NS-sim(IVF coarse-quantized top-k — the scale path)",
    oracle=f"""
WITH cents AS (
    SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id % 50 = 0
),
q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
assigned AS (
    SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.embedding AS v, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_COS_AB.format(a="e.embedding", b="c.cvec")} DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
    ) WHERE rn = 1
),
probe AS (
    SELECT cid FROM (
        SELECT c.cid, {_COS_AB.format(a="c.cvec", b="q.qvec")} AS qc
        FROM cents c CROSS JOIN q
    ) ORDER BY qc DESC, cid LIMIT 3
)
SELECT a.vec_id, {_COS_AB.format(a="a.v", b="q.qvec")} AS cos_sim
FROM assigned a JOIN probe p ON a.cid = p.cid CROSS JOIN q
WHERE a.vec_id <> {_QUERY_VEC_ID}
ORDER BY cos_sim DESC, a.vec_id
LIMIT {_TOP_K}
""",
)
def ann_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (centroid stride 50, 3 probes) — deterministic
    coarse quantization makes even the *approximate* index oracle-checkable;
    ann_cosine_topk remains the exact-recall baseline to compare against."""
    from gridiron_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, _QUERY_VEC_ID, k=_TOP_K, centroid_stride=50, n_probe=3)


_NEAR_THRESHOLD = 0.4
_NEAR_PLANES = 4  # 16 buckets — sized so the sf-scale demo emits rows; at
# cluster scale raise planes to keep per-bucket population bounded.

_PAIR_COS_SQL = """
list_sum(list_transform(list_zip(a.embedding, b.embedding),
         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
/ (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
 * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
""".strip()


def _near_pairs_oracle() -> str:
    from gridiron_spark.operators.similarity import srp_bucket_sql, srp_signs

    bucket = srp_bucket_sql("embedding", srp_signs(_NEAR_PLANES, 64))
    return f"""
WITH bk AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings)
SELECT * FROM (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_PAIR_COS_SQL} AS cos_sim
    FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
) WHERE cos_sim >= {_NEAR_THRESHOLD}
"""


@register(
    "dedup_embedding_cosine",
    survey="NS-dedup(embedding-cosine near-dup, SRP-LSH),J1",
    oracle=_near_pairs_oracle(),
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup pairs: deterministic SRP-LSH buckets (md5-derived
    ±1 hyperplanes inlined into both engines), exact-cosine verification at
    threshold 0.4 — the all-pairs-similarity scale path."""
    from gridiron_spark.operators.similarity import embedding_near_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_pairs(
        emb, threshold=_NEAR_THRESHOLD, planes=_NEAR_PLANES, dims=64
    )


@register(
    "knn_join_topk",
    survey="NS-sim(batch k-NN join: many queries × corpus, tree top-k),J1,O5",
    oracle=f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id % 25 = 0)
SELECT qid, vec_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
    SELECT q.qid, e.vec_id,
           {_COS_AB.format(a="e.embedding", b="q.qvec")} AS cos_sim,
           ROW_NUMBER() OVER (
               PARTITION BY q.qid ORDER BY cos_sim DESC, e.vec_id) AS rank
    FROM embeddings e, q
    WHERE e.vec_id <> q.qid
) WHERE rank <= 5
""",
)
def knn_join_topk(spark, sf_dir):
    """Batch k-NN join: top-5 cosine neighbors for EVERY query vector in a
    deterministic query set (``vec_id % 25 == 0``) — dataset-vs-dataset
    retrieval, the shape behind near-dup candidate mining and hard-negative
    mining, not the single-probe lookup of ann_cosine_topk.

    Scale shape: the query side is broadcast, so scoring is one map-only
    pass over the corpus (no shuffle of the big side). For the top-k a plain
    ``row_number() over (partition by qid) <= k`` is, on Spark ≥3.5, already
    the tree shape: the rank-limit pushdown inserts a *Partial*
    WindowGroupLimit before the exchange, so each map task forwards at most
    |Q|×k rows and only maps×|Q|×k candidates ever shuffle — hand-rolling a
    salted collect_list tree on top adds an extra exchange for nothing
    (verified in the physical plan: Partial → Exchange → Final). Ordering is
    (cos_sim DESC, vec_id) so ties are deterministic cross-engine.
    """
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    from gridiron_spark.functions.vectors import dot, norm2

    k = 5
    q = (
        emb.filter(F.col("vec_id") % 25 == 0)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qvec"),
            norm2(F.col("embedding")).alias("qnrm"),
        )
    )
    # fan_out: the |Q|x|corpus| cosine fan-out is narrow over the corpus
    # scan — a single-file scan would score every pair on ONE core
    # (optimization guide §2.4; no-op at scale, see io.tables.fan_out).
    # Norms hoisted per side: dot/(nrm·qnrm) is cosine()'s exact
    # expression with the two denominator folds evaluated once per row
    # instead of once per pair — bit-identical values (guide §2.3).
    scored = (
        fan_out(emb)
        .withColumn("nrm", norm2(F.col("embedding")))
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (
                dot(F.col("embedding"), F.col("qvec"))
                / (F.col("nrm") * F.col("qnrm"))
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id", "cos_sim", "rank")
    )


@register(
    "embedding_quantize",
    survey="NS-sim(int8 embedding quantization for vector storage),F-scalar",
    oracle="""
SELECT vec_id,
       127.0 / list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) AS scale,
       md5(array_to_string(list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 /
                   list_max(list_transform(embedding,
                       y -> abs(CAST(y AS DOUBLE)))))) AS BIGINT)), ',')) AS q_md5,
       CAST(list_sum(list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 /
                   list_max(list_transform(embedding,
                       y -> abs(CAST(y AS DOUBLE)))))) AS BIGINT)
                   * CAST(floor(CAST(x AS DOUBLE) * (127.0 /
                   list_max(list_transform(embedding,
                       y -> abs(CAST(y AS DOUBLE)))))) AS BIGINT)))
           AS BIGINT) AS q_norm_sq
FROM embeddings
""",
)
def embedding_quantize(spark, sf_dir):
    """Per-vector symmetric int8 quantization — the storage pass a vector
    platform runs before writing an index (4× smaller than float32, and
    the dot-product kernels go integer). scale = 127/max|x| per vector;
    q_i = floor(x_i · scale). Every step is IEEE-double exact (abs, max,
    divide, multiply, floor), so unlike learned or stochastic quantizers
    the full codebook is bit-reproducible cross-engine: the quantized
    vector is hash-checked via an md5 digest plus its integer norm.
    Map-only plan — one projection over the scan, no shuffle, no UDF.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    absd = F.transform("embedding", lambda x: F.abs(x.cast("double")))
    scale = F.lit(127.0) / F.array_max(absd)
    q = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * scale).cast("bigint")
    )
    return emb.select(
        "vec_id",
        scale.alias("scale"),
        F.md5(F.concat_ws(",", q.cast("array<string>"))).alias("q_md5"),
        int_dot(q, q).alias("q_norm_sq"),
    )


@register(
    "ann_recall_eval",
    survey="NS-sim(in-engine ANN quality evaluation: recall@10 of IVF vs exact, per query)",
    oracle=f"""
WITH cents AS (
    SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id % 50 = 0
),
qs AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id % 25 = 0),
assigned AS (
    SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.embedding AS v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {_COS_AB.format(a="e.embedding", b="c.cvec")} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cents c
    ) WHERE rn = 1
),
probes AS (
    SELECT qid, cid FROM (
        SELECT q.qid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                   ORDER BY {_COS_AB.format(a="c.cvec", b="q.qvec")} DESC, c.cid) AS rn
        FROM cents c CROSS JOIN qs q
    ) WHERE rn <= 3
),
ivf AS (
    SELECT qid, vec_id FROM (
        SELECT p.qid, a.vec_id,
               ROW_NUMBER() OVER (PARTITION BY p.qid
                   ORDER BY {_COS_AB.format(a="a.v", b="q.qvec")} DESC, a.vec_id) AS rn
        FROM assigned a JOIN probes p ON a.cid = p.cid
        JOIN qs q ON q.qid = p.qid
        WHERE a.vec_id <> p.qid
    ) WHERE rn <= 10
),
brute AS (
    SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                   ORDER BY {_COS_AB.format(a="e.embedding", b="q.qvec")} DESC, e.vec_id) AS rn
        FROM embeddings e CROSS JOIN qs q
        WHERE e.vec_id <> q.qid
    ) WHERE rn <= 10
),
hits AS (
    SELECT b.qid, COUNT(*) AS n_hits
    FROM brute b JOIN ivf i ON i.qid = b.qid AND i.vec_id = b.vec_id
    GROUP BY b.qid
)
SELECT allq.qid, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 10.0 AS recall_at_10
FROM (SELECT DISTINCT qid FROM qs) allq LEFT JOIN hits h USING (qid)
""",
)
def ann_recall_eval(spark, sf_dir):
    """In-engine evaluation of the approximate index: recall@10 of the IVF
    path (stride-50 centroids, 3 probes) against the exact cosine top-10,
    for every query in the ``vec_id % 25 == 0`` set — the quality gate a
    vector platform runs before promoting an index build, expressed as one
    declarative query instead of a driver-side loop.

    Scale shape: the centroid assignment is computed ONCE and shared by all
    queries (the index build, amortized); centroids, probe lists, and the
    query set all broadcast; both top-10s go through the Partial
    WindowGroupLimit tree (bounded shuffles); the final recall join touches
    |Q|×10 rows. Evaluating recall costs one brute-force pass — exactly
    what it costs to know an index is safe to ship.
    """
    from pyspark.sql import Window as W

    from gridiron_spark.functions.vectors import dot, norm2

    emb = load_table(spark, sf_dir, "embeddings")
    k = 10
    # round 13: norms hoisted per SIDE (cosine()'s exact denominator
    # expression, evaluated |side| times instead of per pair — values
    # bit-identical, guide §2.3) and the narrow n×C / n×|Q| fan-outs
    # fan_out'd over the single-file scan (guide §2.4)
    cents = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cvec"),
        norm2(F.col("embedding")).alias("cnrm"),
    )
    qs = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        norm2(F.col("embedding")).alias("qnrm"),
    )
    embf = fan_out(emb)
    assigned = (
        embf.select(
            F.col("vec_id"),
            F.col("embedding").alias("v"),
            norm2(F.col("embedding")).alias("vnrm"),
        )
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy(
                    (
                        dot(F.col("v"), F.col("cvec"))
                        / (F.col("vnrm") * F.col("cnrm"))
                    ).desc(),
                    "cid",
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "vnrm", "cid")
    )
    probes = (
        cents.crossJoin(F.broadcast(qs))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("qid").orderBy(
                    (
                        dot(F.col("cvec"), F.col("qvec"))
                        / (F.col("cnrm") * F.col("qnrm"))
                    ).desc(),
                    "cid",
                )
            ),
        )
        .filter(F.col("rn") <= 3)
        .select("qid", "cid")
    )
    ivf = (
        assigned.join(F.broadcast(probes), "cid")
        .join(F.broadcast(qs), "qid")
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("qid").orderBy(
                    (
                        dot(F.col("v"), F.col("qvec"))
                        / (F.col("vnrm") * F.col("qnrm"))
                    ).desc(),
                    "vec_id",
                )
            ),
        )
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id")
    )
    brute = (
        embf.withColumn("vnrm", norm2(F.col("embedding")))
        .crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("qid").orderBy(
                    (
                        dot(F.col("embedding"), F.col("qvec"))
                        / (F.col("vnrm") * F.col("qnrm"))
                    ).desc(),
                    "vec_id",
                )
            ),
        )
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id")
    )
    hits = brute.join(ivf, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        qs.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.lit(10.0)).alias(
                "recall_at_10"
            ),
        )
    )


_KMEANS_K = 8

_L2_AB = """
list_sum(list_transform(list_zip({a}, {b}),
         x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
            * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))
""".strip()

_KMEANS_ROUNDS = 8


def kmeans_ctes(k: int, rounds: int) -> str:
    """The unrolled Lloyd loop as a chained-CTE body (DuckDB), mirroring
    operators/similarity.kmeans_fit round for round: c0 = first-k seeds
    (elements widened to double), each round i = nearest-centroid
    assignment a{i} (ordered-fold L2, ties to the smaller cluster) →
    fixed-point quantized mean u{i} (floor(x·2²⁰) summed as BIGINT, two
    IEEE divisions — bit-identical to Spark's update; see
    quantized_lloyd_update) → c{i} with the empty-cluster fallback to the
    previous centroid. A fixed unroll replays Spark's early-exit exactly
    because rounds past the assignment fixpoint recompute identical
    centroids. Every CTE is MATERIALIZED: c{i} reads c{i-1} twice, so an
    inlining engine (DuckDB 1.0) expands the chain ~2^rounds-fold and runs
    out of memory. Returns the body after ``WITH``; callers append their
    final SELECT against c{rounds} / a{rounds}."""
    parts = [
        f"""
c0 AS MATERIALIZED (
    SELECT vec_id AS cluster,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
    FROM embeddings WHERE vec_id < {k}
)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
a{i} AS MATERIALIZED (
    SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cluster,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_L2_AB.format(a="e.embedding", b="c.cvec")},
                            c.cluster
               ) AS rn
        FROM embeddings e CROSS JOIN c{i - 1} c
    ) WHERE rn = 1
),
u{i} AS MATERIALIZED (
    SELECT a.cluster, u.i AS dim,
           (CAST(SUM(CAST(FLOOR(CAST(e.embedding[u.i + 1] AS DOUBLE)
                                * 1048576.0) AS BIGINT)) AS DOUBLE)
            / COUNT(*)) / 1048576.0 AS val
    FROM a{i} a JOIN embeddings e USING (vec_id),
         unnest(range(0, len(e.embedding))) AS u(i)
    GROUP BY a.cluster, u.i
),
c{i} AS MATERIALIZED (
    SELECT p.cluster, COALESCE(n.cvec, p.cvec) AS cvec
    FROM c{i - 1} p LEFT JOIN (
        SELECT cluster, list(val ORDER BY dim) AS cvec
        FROM u{i} GROUP BY cluster
    ) n USING (cluster)
)"""
        )
    return "".join(parts)


@register(
    "kmeans_assign",
    survey="NS-sim(k-means Lloyd assignment — deterministic clustering for curation),J1,W2",
    oracle=f"""
WITH c AS (
    SELECT vec_id AS cluster, embedding AS cvec
    FROM embeddings WHERE vec_id < {_KMEANS_K}
),
d AS (
    SELECT e.vec_id, c.cluster,
           {_L2_AB.format(a="e.embedding", b="c.cvec")} AS dist2
    FROM embeddings e CROSS JOIN c
)
SELECT vec_id, cluster, dist2 FROM (
    SELECT vec_id, cluster, dist2,
           ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY dist2, cluster) AS rn
    FROM d
) WHERE rn = 1
""",
)
def kmeans_assign(spark, sf_dir):
    """One deterministic Lloyd assignment step (seed centroids = the first
    {k} vectors): nearest-centroid by squared L2, ties to the smaller
    cluster id. Clustering is the curation primitive behind SemDeDup-style
    semantic dedup and cluster-balanced sampling; the assignment is the
    hash-checkable half of the iteration (ordered-fold distances are
    bit-exact cross-engine), the centroid-update mean is pinned by pytest
    (operators/similarity.lloyd_update — double means are shuffle-order-
    dependent, never oracle material).

    Scale shape: k×dims centroids broadcast; the distance fan-out is
    map-side and the argmin is a rank-1 window over vec_id — corpus-
    cardinality key, Partial WindowGroupLimit prunes to one row per vector
    before the shuffle. One linear pass end-to-end.
    """
    from gridiron_spark.operators.similarity import lloyd_assign

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < _KMEANS_K).select(
        F.col("vec_id").alias("cluster"), F.col("embedding").alias("cvec")
    )
    return lloyd_assign(emb, cents).select("vec_id", "cluster", "dist2")


kmeans_assign.__doc__ = kmeans_assign.__doc__.format(k=_KMEANS_K)


_SEMDEDUP_THRESHOLD = 0.4
# Self-protection bound for the EXACT prune entries: the paper's k ∝ n
# contract keeps clusters near the design point (sf0.01 max ≈ 66, sf0.1
# max ≈ 270 at k=8 — far below), so the exact path runs untouched at
# every correctness/bench scale; a hot cluster past 1024 (the ×10emb
# probe hit 2 650 → 172 s) flips the pairwise stage to the rank-window
# prune with R = cap instead of paying Σ|cluster|² unguarded.
_SD_EXACT_CAP = 1024


@register(
    "semdedup_prune",
    survey="NS-dedup(SemDeDup: intra-cluster semantic dedup via cosine pruning),J1,W2",
    oracle=f"""
-- DIVERGENCE CONTRACT: this oracle replays the EXACT pairwise prune. The
-- Spark side self-protects with exact_cap={_SD_EXACT_CAP}: if the staged
-- assignment's max|cluster| exceeds the cap (out of SemDeDup's k-prop-to-n
-- contract; never at any checked sf — sf0.1 max ~ 270), the Spark plan
-- degrades to the rank-window prune and this hash comparison would fail
-- LOUDLY. The degraded branch carries its own oracle-checked entry:
-- semdedup_capped_degrade.
WITH {kmeans_ctes(_KMEANS_K, _KMEANS_ROUNDS)},
d AS (
    SELECT e.vec_id, c.cluster,
           {_L2_AB.format(a="e.embedding", b="c.cvec")} AS dist2,
           e.embedding AS v
    FROM embeddings e CROSS JOIN c{_KMEANS_ROUNDS} c
),
a AS MATERIALIZED (
    SELECT vec_id, cluster, dist2, v FROM (
        SELECT vec_id, cluster, dist2, v,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY dist2, cluster) AS rn
        FROM d
    ) WHERE rn = 1
),
dropped AS (
    SELECT DISTINCT y.vec_id
    FROM a x JOIN a y ON x.cluster = y.cluster
     AND (x.dist2 < y.dist2 OR (x.dist2 = y.dist2 AND x.vec_id < y.vec_id))
    WHERE {_COS_AB.format(a="x.v", b="y.v")} >= {_SEMDEDUP_THRESHOLD}
)
SELECT a.vec_id, a.cluster,
       CAST(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM a LEFT JOIN dropped dr ON dr.vec_id = a.vec_id
""",
)
def semdedup_prune(spark, sf_dir):
    """SemDeDup proper (Abbas et al. 2023): kmeans_assign already buckets
    the corpus; this adds the intra-cluster pairwise cosine pruning that
    makes it a dedup — per cluster, rank members by distance-to-centroid
    and drop any member whose better-ranked cluster-mate is cosine-similar
    ≥ {t}. Output is a keep/drop flag per vector, the artifact a curation
    pipeline joins against before training. Clusters come from the shared
    CONVERGED k-means stage (staged_kmeans_centroids — capped Lloyd
    iterations with the fixed-point update), the same artifact
    kmeans_converged_assign and cluster_balanced_sample consume, so the
    curation family grades one coherent converged clustering.

    Scale shape: see operators/similarity.semdedup_flags — the pairwise
    stage is bounded by cluster size by construction (the paper's design),
    self-joined on the cluster key, one shuffle per side. SELF-PROTECTING
    since round 11: exact_cap={c} gates the exact prune on the staged
    assignment's max|cluster| (a k-row census); if a hot cluster violates
    the k ∝ n contract the entry auto-degrades to the rank-window prune
    with R={c} (Σ R·|cluster| cosines) instead of silently paying
    Σ|cluster|² — byte-identical to the exact prune at every in-contract
    scale (pytest-pinned; probe in BASELINE.md round-11).
    """
    from gridiron_spark.operators.similarity import semdedup_flags

    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup_flags(
        emb, staged_kmeans_centroids(spark, sf_dir), _SEMDEDUP_THRESHOLD,
        exact_cap=_SD_EXACT_CAP,
    )


semdedup_prune.__doc__ = semdedup_prune.__doc__.format(t=_SEMDEDUP_THRESHOLD, c=_SD_EXACT_CAP)


_SD2_K = 32  # scaled-k regime: 4× the converged-kmeans catalog k
_SD2_G = 6  # ⌈√32⌉ super-centroid branches
_SD2_PROBES = 2

_L2_SEED = """
list_sum(list_transform(list_zip({a}, {b}),
         x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
            * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))
""".strip()


# the two-level assignment CTE chain (ends in ``a`` = (vec_id, cluster,
# dist2, v)) — shared by semdedup_two_level (full intra-cluster prune)
# and semdedup_prefix_prune (rank-window-capped prune)
_SD2_ASSIGN_CTES = f"""
WITH cents AS (
    SELECT vec_id AS cluster,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
    FROM embeddings WHERE vec_id < {_SD2_K}
),
gseed AS (
    SELECT cluster AS grp, cvec AS gvec FROM cents WHERE cluster < {_SD2_G}
),
cmem AS (
    SELECT cluster, cvec, grp FROM (
        SELECT c.cluster, c.cvec, s.grp,
               ROW_NUMBER() OVER (
                   PARTITION BY c.cluster
                   ORDER BY {_L2_SEED.format(a="c.cvec", b="s.gvec")}, s.grp
               ) AS rn
        FROM cents c CROSS JOIN gseed s
    ) WHERE rn = 1
),
supd AS (
    SELECT m.grp, u.i AS dim,
           (CAST(SUM(CAST(FLOOR(m.cvec[u.i + 1] * 1048576.0) AS BIGINT))
                 AS DOUBLE) / COUNT(*)) / 1048576.0 AS val
    FROM cmem m, unnest(range(0, len(m.cvec))) AS u(i)
    GROUP BY m.grp, u.i
),
sup AS (
    SELECT grp, list(val ORDER BY dim) AS gvec FROM supd GROUP BY grp
),
probed AS (
    SELECT vec_id, embedding, grp FROM (
        SELECT e.vec_id, e.embedding, s.grp,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_L2_SEED.format(a="e.embedding", b="s.gvec")},
                            s.grp
               ) AS rn
        FROM embeddings e CROSS JOIN sup s
    ) WHERE rn <= {_SD2_PROBES}
),
a AS MATERIALIZED (
    SELECT vec_id, cluster, dist2, v FROM (
        SELECT p.vec_id, m.cluster,
               {_L2_SEED.format(a="p.embedding", b="m.cvec")} AS dist2,
               p.embedding AS v,
               ROW_NUMBER() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY {_L2_SEED.format(a="p.embedding", b="m.cvec")},
                            m.cluster
               ) AS rn
        FROM probed p JOIN cmem m USING (grp)
    ) WHERE rn = 1
)"""

_SD2_FLAG_SELECT = """
SELECT a.vec_id, a.cluster,
       CAST(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM a LEFT JOIN dropped dr ON dr.vec_id = a.vec_id
"""


@register(
    "semdedup_two_level",
    survey="NS-dedup(SemDeDup scaled-k regime: two-level √k coarse-then-fine assignment + intra-cluster cosine pruning),J1,W2",
    oracle="-- DIVERGENCE CONTRACT: exact pairwise prune replay; the Spark\n"
    f"-- side's exact_cap={_SD_EXACT_CAP} guard degrades to the rank-window\n"
    "-- prune on an out-of-contract hot cluster (never at checked sf) and\n"
    "-- would then fail this hash LOUDLY — see semdedup_capped_degrade for\n"
    "-- the degraded branch's own oracle.\n"
    + _SD2_ASSIGN_CTES + f""",
dropped AS (
    SELECT DISTINCT y.vec_id
    FROM a x JOIN a y ON x.cluster = y.cluster
     AND (x.dist2 < y.dist2 OR (x.dist2 = y.dist2 AND x.vec_id < y.vec_id))
    WHERE {_COS_AB.format(a="x.v", b="y.v")} >= {_SEMDEDUP_THRESHOLD}
)""" + _SD2_FLAG_SELECT,
)
def semdedup_two_level(spark, sf_dir):
    """SemDeDup in the SCALED-K regime: the k=80/×10 probe (BASELINE.md
    round 6) measured the brute-force n×k assignment going 6.4×
    super-linear once k grows with the corpus — this entry is the
    promised fix. Assignment runs through
    operators/similarity.two_level_assign: the k={k} centroids are
    grouped into g={g} branches (nearest-of-first-g, quantized branch
    means as super-centroids), each vector ranks only the g
    super-centroids and then the {p} probed branches' centroids —
    O(√k) distances per vector instead of O(k). The intra-cluster
    cosine pruning on top is byte-identical to semdedup_prune
    (rank-by-distance, drop any member whose better-ranked mate is
    cosine ≥ {t}).

    Scale shape: every centroid-side table (branches, super-centroids,
    membership) is k-sized and broadcast; the vector side is two
    map-side fan-outs (×g, then ×probes·k/g) each pruned by a Partial
    WindowGroupLimit — no corpus shuffle until the cluster-keyed
    pairwise stage, which is the same bounded self-join as
    semdedup_prune — and carries the same round-11 self-protection
    (exact_cap={c}: a k-row max|cluster| census auto-degrades an
    out-of-contract hot cluster to the R={c} rank-window prune). The
    assignment is approximate-but-deterministic (IVF probe trade-off),
    so the oracle replays it exactly; pytest pins that probes==groups
    degrades to the exact argmin.
    """
    from gridiron_spark.operators.similarity import (
        semdedup_flags,
        two_level_assign,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assign = two_level_assign(
        emb, _sd2_cents(emb), groups=_SD2_G, probes=_SD2_PROBES
    )
    return semdedup_flags(
        emb, None, _SEMDEDUP_THRESHOLD, assign=assign,
        exact_cap=_SD_EXACT_CAP,
    )


semdedup_two_level.__doc__ = semdedup_two_level.__doc__.format(
        k=_SD2_K, g=_SD2_G, p=_SD2_PROBES, t=_SEMDEDUP_THRESHOLD,
        c=_SD_EXACT_CAP,
    )


def _sd2_cents(emb):
    return emb.filter(F.col("vec_id") < _SD2_K).select(
        F.col("vec_id").alias("cluster"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cvec"),
    )


_SD2_RANK_WINDOW = 8  # prefix-prune cap: compare against the 8 closest-to-
                      # centroid members per cluster, not all members


@register(
    "semdedup_prefix_prune",
    survey="NS-dedup(SemDeDup prune-stage bound: two-level assignment + rank-window-capped intra-cluster pruning — Sigma R*|cluster| cosines instead of Sigma |cluster|^2),J1,W2",
    oracle=_SD2_ASSIGN_CTES + f""",
topr AS (
    SELECT vec_id, cluster, dist2, v FROM (
        SELECT vec_id, cluster, dist2, v,
               ROW_NUMBER() OVER (
                   PARTITION BY cluster ORDER BY dist2, vec_id) AS rk
        FROM a
    ) WHERE rk <= {_SD2_RANK_WINDOW}
),
dropped AS (
    SELECT DISTINCT y.vec_id
    FROM topr x JOIN a y ON x.cluster = y.cluster
     AND (x.dist2 < y.dist2 OR (x.dist2 = y.dist2 AND x.vec_id < y.vec_id))
    WHERE {_COS_AB.format(a="x.v", b="y.v")} >= {_SEMDEDUP_THRESHOLD}
)""" + _SD2_FLAG_SELECT,
)
def semdedup_prefix_prune(spark, sf_dir):
    """SemDeDup with BOTH super-linear stages bounded — the round-9
    residual closed. semdedup_two_level fixed the assignment term (√k
    coarse-then-fine), but the k80/×10 probe still measured the paper's
    own intra-cluster pairwise prune growing with |cluster|² (42.6 s vs
    the 19.8 s fixed-k floor). This entry caps the comparison side to
    each cluster's {r} closest-to-centroid members (rank ≤ {r} — a
    row_number filter Spark prunes map-side as a Partial
    WindowGroupLimit), so the prune pays Σ {r}·|cluster| cosines,
    LINEAR in cluster size. Approximate-but-deterministic, and the
    approximation is the algorithm's own shape: SemDeDup keeps the
    closest-to-centroid member of every duplicate group as its
    representative, and a duplicate group's members sit at nearly equal
    centroid distance, so a group whose BEST member ranks below {r}
    in its cluster is one the full prune would mostly catch via that
    same high-ranked representative. The oracle replays the capped
    prune exactly; pytest pins that R ≥ max|cluster| degrades to the
    full prune bit-for-bit.

    Scale shape: identical to semdedup_two_level through assignment
    (broadcast k-sized tables, two map-side fan-outs, no corpus shuffle
    until the cluster key); the prune self-join's build side is now the
    rank-window prefix — ≤ {r}·k rows total, broadcastable at any
    corpus size — and the probe row (BASELINE.md round-10) measures the
    stage sub-quadratic at k80/×10 where the full prune was the
    residual super-linear term.
    """
    from gridiron_spark.operators.similarity import (
        semdedup_flags,
        two_level_assign,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    assign = two_level_assign(
        emb, _sd2_cents(emb), groups=_SD2_G, probes=_SD2_PROBES
    )
    return semdedup_flags(
        emb, None, _SEMDEDUP_THRESHOLD, assign=assign,
        prune_rank_window=_SD2_RANK_WINDOW,
    )


semdedup_prefix_prune.__doc__ = semdedup_prefix_prune.__doc__.format(r=_SD2_RANK_WINDOW)


_SDC_K = 2  # adversarially tiny k: clusters of ~n/2 members, far past cap
_SDC_CAP = 8  # exact_cap chosen so the census PROVABLY trips at every sf


@register(
    "semdedup_capped_degrade",
    survey="NS-dedup(SemDeDup exact_cap guard DEGRADE PATH: hot-cluster census trips, prune auto-degrades to rank-window),J1,W2",
    oracle=f"""
-- This oracle replays the exact_cap guard's DEGRADED branch (rank-window
-- R = {_SDC_CAP}): the k = {_SDC_K} seed clustering makes max|cluster| ~ n/2,
-- violating SemDeDup's k-proportional-to-n contract at every scale, so the
-- Spark side's census always flips the pairwise stage to the rank-window
-- prune. Valid for any corpus with > {_SDC_CAP * _SDC_K} vectors.
WITH cents AS (
    SELECT vec_id AS cluster, embedding AS cvec
    FROM embeddings WHERE vec_id < {_SDC_K}
),
d AS (
    SELECT e.vec_id, c.cluster,
           {_L2_AB.format(a="e.embedding", b="c.cvec")} AS dist2,
           e.embedding AS v
    FROM embeddings e CROSS JOIN cents c
),
a AS (
    SELECT vec_id, cluster, dist2, v FROM (
        SELECT vec_id, cluster, dist2, v,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY dist2, cluster) AS rn
        FROM d
    ) WHERE rn = 1
),
topr AS (
    SELECT vec_id, cluster, dist2, v FROM (
        SELECT vec_id, cluster, dist2, v,
               ROW_NUMBER() OVER (
                   PARTITION BY cluster ORDER BY dist2, vec_id) AS rk
        FROM a
    ) WHERE rk <= {_SDC_CAP}
),
dropped AS (
    SELECT DISTINCT y.vec_id
    FROM topr x JOIN a y ON x.cluster = y.cluster
     AND (x.dist2 < y.dist2 OR (x.dist2 = y.dist2 AND x.vec_id < y.vec_id))
    WHERE {_COS_AB.format(a="x.v", b="y.v")} >= {_SEMDEDUP_THRESHOLD}
)
SELECT a.vec_id, a.cluster,
       CAST(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM a LEFT JOIN dropped dr ON dr.vec_id = a.vec_id
""",
)
def semdedup_capped_degrade(spark, sf_dir):
    """The exact_cap guard's DEGRADE path as a driver-checked entry — the
    round-11 self-protection (semdedup_prune's auto-degrade when a hot
    cluster violates the paper's k ∝ n contract) previously ran only in
    probes and pytest, because the catalog corpora never trip the
    production cap at checked scales. This entry makes the branch carry
    its own green CORRECTNESS row: an adversarial k={k} seed clustering
    puts ~n/2 vectors in each cluster — past exact_cap={c} at every
    sf — so operators/similarity.semdedup_flags's k-row census ALWAYS
    flips the pairwise stage to the rank-window prune with R={c}, and
    the oracle replays that degraded branch (not the exact prune)
    explicitly. pytest additionally pins (a) the census genuinely
    exceeds the cap and (b) the result is byte-equal to an explicit
    prune_rank_window={c} call.

    Scale shape: exactly the degraded contract the guard promises —
    Σ R·|cluster| cosines (linear in cluster size) instead of the
    unguarded Σ|cluster|²; the rank-window prefix is ≤ R·k rows and the
    argmin assignment is one map-side ×k fan-out + Partial
    WindowGroupLimit pass."""
    from gridiron_spark.operators.similarity import semdedup_flags

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < _SDC_K).select(
        F.col("vec_id").alias("cluster"), F.col("embedding").alias("cvec")
    )
    return semdedup_flags(
        emb, cents, _SEMDEDUP_THRESHOLD, exact_cap=_SDC_CAP
    )


semdedup_capped_degrade.__doc__ = semdedup_capped_degrade.__doc__.format(
    k=_SDC_K, c=_SDC_CAP
)


def staged_kmeans_centroids(spark, sf_dir):
    """The converged (capped-round) k-means centroids as a staged artifact
    shared by kmeans_converged_assign, semdedup_prune, and
    cluster_balanced_sample — trained once per (source fingerprint,
    params), the way a production curation pipeline persists its
    clustering. The oracle replays the full unrolled training on every
    check, so a stale or drifted stage flips the hash."""
    from gridiron_spark.io.staging import ensure_stage, stage_path
    from gridiron_spark.operators.similarity import kmeans_fit

    stage = stage_path(
        sf_dir, "kmeans_cents", "embeddings",
        params={"k": _KMEANS_K, "rounds": _KMEANS_ROUNDS, "scale": 1 << 20},
    )
    ensure_stage(
        stage,
        lambda p: kmeans_fit(
            load_table(spark, sf_dir, "embeddings"),
            k=_KMEANS_K,
            rounds=_KMEANS_ROUNDS,
        )
        .write.mode("overwrite")
        .parquet(p),
    )
    return spark.read.schema("cluster bigint, cvec array<double>").parquet(
        stage
    )


@register(
    "kmeans_converged_assign",
    survey="NS-sim(k-means to convergence: capped Lloyd iterations, fixed-point deterministic update),J1,W2",
    oracle=f"""
WITH {kmeans_ctes(_KMEANS_K, _KMEANS_ROUNDS)},
d AS (
    SELECT e.vec_id, c.cluster,
           {_L2_AB.format(a="e.embedding", b="c.cvec")} AS dist2
    FROM embeddings e CROSS JOIN c{_KMEANS_ROUNDS} c
)
SELECT vec_id, cluster, dist2 FROM (
    SELECT vec_id, cluster, dist2,
           ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY dist2, cluster) AS rn
    FROM d
) WHERE rn = 1
""",
)
def kmeans_converged_assign(spark, sf_dir):
    """kmeans_assign's single Lloyd step, taken to convergence (capped at
    {r} rounds): assign → fixed-point quantized mean update → reassign,
    early-exiting on an assignment fixpoint (operators/similarity.
    kmeans_fit). The update quantizes each element to a 2⁻²⁰ grid so the
    centroid mean is EXACT and order-free (BIGINT sums + two IEEE
    divisions) — the trick that makes an ITERATED clustering
    hash-checkable cross-engine, where a double AVG would diverge on
    shuffle order alone. Output is the final assignment with distances;
    the centroids come off the shared staged artifact
    (staged_kmeans_centroids) that semdedup_prune and
    cluster_balanced_sample also consume, so the curation family now
    grades one CONVERGED clustering instead of first-K seeds.

    Scale shape: each round is one linear assignment pass (broadcast
    k×dims centroids, rank-1 WindowGroupLimit) + one k×dims-row
    aggregate; lineage cut per round; the convergence probe is a 1-row
    fingerprint. Training cost amortizes across consumers via the stage.
    """
    from gridiron_spark.operators.similarity import lloyd_assign

    emb = load_table(spark, sf_dir, "embeddings")
    cents = staged_kmeans_centroids(spark, sf_dir)
    return lloyd_assign(emb, cents).select("vec_id", "cluster", "dist2")


kmeans_converged_assign.__doc__ = kmeans_converged_assign.__doc__.format(r=_KMEANS_ROUNDS)


_IVF_KM_PROBE = 2


@register(
    "ann_ivf_kmeans_topk",
    survey="NS-sim(IVF with a TRAINED coarse quantizer: converged k-means cells, probe-N search)",
    oracle=f"""
WITH {kmeans_ctes(_KMEANS_K, _KMEANS_ROUNDS)},
q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}),
af AS (
    SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cluster,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_L2_AB.format(a="e.embedding", b="c.cvec")},
                            c.cluster
               ) AS rn
        FROM embeddings e CROSS JOIN c{_KMEANS_ROUNDS} c
    ) WHERE rn = 1
),
pr AS (
    SELECT c.cluster
    FROM c{_KMEANS_ROUNDS} c CROSS JOIN q
    ORDER BY {_COS_AB.format(a="c.cvec", b="q.qvec")} DESC, c.cluster
    LIMIT {_IVF_KM_PROBE}
)
SELECT e.vec_id, {_COS_AB.format(a="e.embedding", b="q.qvec")} AS cos_sim
FROM embeddings e
JOIN af USING (vec_id)
JOIN pr USING (cluster)
CROSS JOIN q
WHERE e.vec_id != {_QUERY_VEC_ID}
ORDER BY cos_sim DESC, e.vec_id
LIMIT {_TOP_K}
""",
)
def ann_ivf_kmeans_topk(spark, sf_dir):
    """IVF search with a TRAINED coarse quantizer — the production build
    ann_ivf_topk's docstring promises ("a real build uses k-means"): the
    inverted lists are the CONVERGED k-means cells off the shared staged
    artifact (staged_kmeans_centroids), the query probes its
    {p} nearest cells by centroid cosine, and only those cells' members
    are scored. Search cost drops by ~k/{p} vs brute force with recall
    governed by the probe width — and because the quantizer is the
    fixed-point deterministic k-means, the whole index BUILD + search is
    hash-checked against the unrolled training replay.

    Scale shape: centroids broadcast (k×dims); the assignment is the one
    linear pass (amortized across queries via the stage in a real
    deployment); the probed-cell scan is a cluster-key semi-join; top-k
    is TakeOrderedAndProject. No shuffle of the embedding table beyond
    the assignment argmin.
    """
    from gridiron_spark.operators.similarity import lloyd_assign

    emb = load_table(spark, sf_dir, "embeddings")
    cents = staged_kmeans_centroids(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    assigned = lloyd_assign(emb, cents).select("vec_id", "embedding", "cluster")
    probe = (
        cents.join(F.broadcast(q))
        .select(
            "cluster", cosine(F.col("cvec"), F.col("qvec")).alias("qc")
        )
        .orderBy(F.col("qc").desc(), "cluster")
        .limit(_IVF_KM_PROBE)
        .select("cluster")
    )
    return (
        assigned.join(F.broadcast(probe), "cluster")
        .filter(F.col("vec_id") != _QUERY_VEC_ID)
        .join(F.broadcast(q))
        .select(
            "vec_id", cosine(F.col("embedding"), F.col("qvec")).alias("cos_sim")
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(_TOP_K)
    )


ann_ivf_kmeans_topk.__doc__ = ann_ivf_kmeans_topk.__doc__.format(p=_IVF_KM_PROBE)


# --- Product quantization (ADC) ----------------------------------------------

_PQ_M = 4          # subspaces
_PQ_SUBDIM = 16    # dims per subspace (4 × 16 = the 64-dim embedding)
_PQ_K = 16         # codewords per subspace (training sample = vec_id 0..15)
_PQ_SCALE = 1 << 20  # fixed-point quantization: q = floor(x · 2^20)

# exact integer squared L2 between two quantized sub-vectors
_PQ_L2_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}), p -> (p[1]-p[2])*(p[1]-p[2])))"
)
# quantized sub-vector m (0-based) of a FLOAT[] embedding column
_PQ_SUB_SQL = (
    "list_transform({e}[{{m}}*" + str(_PQ_SUBDIM) + "+1:({{m}}+1)*" + str(_PQ_SUBDIM) + "], "
    f"x -> CAST(floor(CAST(x AS DOUBLE) * {_PQ_SCALE}) AS BIGINT))"
)


@register(
    "ann_pq_topk",
    survey="NS-sim(product quantization: codebook assign + asymmetric-distance top-k)",
    oracle=f"""
WITH sub AS (
    SELECT vec_id, m.m AS m,
           {_PQ_SUB_SQL.format(e="embedding").format(m="m.m")} AS qsub
    FROM embeddings CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS m) m
),
cb AS (
    SELECT vec_id AS cid, m, qsub AS csub FROM sub WHERE vec_id < {_PQ_K}
),
codes AS (
    SELECT vec_id, m, cid FROM (
        SELECT s.vec_id, s.m, c.cid,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                   ORDER BY {_PQ_L2_SQL.format(a="s.qsub", b="c.csub")}, c.cid) AS rn
        FROM sub s JOIN cb c ON c.m = s.m
    ) WHERE rn = 1
),
qtab AS (
    SELECT c.m, c.cid,
           {_PQ_L2_SQL.format(a="qs.qsub", b="c.csub")} AS d
    FROM cb c JOIN sub qs ON qs.m = c.m AND qs.vec_id = {_QUERY_VEC_ID}
)
SELECT codes.vec_id,
       CAST(SUM(qtab.d) AS BIGINT) AS adc_dist
FROM codes JOIN qtab ON qtab.m = codes.m AND qtab.cid = codes.cid
WHERE codes.vec_id != {_QUERY_VEC_ID}
GROUP BY codes.vec_id
ORDER BY adc_dist, codes.vec_id
LIMIT {_TOP_K}
""",
)
def ann_pq_topk(spark, sf_dir):
    """Product quantization (Jégou et al. 2011, "Product Quantization for
    Nearest Neighbor Search") — the memory-bound ANN index family IVF-PQ
    engines (FAISS) build at billion scale: each vector is split into
    {m} sub-vectors, each encoded as its nearest of {k} per-subspace
    codewords (here the training sample = the first {k} vectors, the
    kmeans_assign seeding convention), so a 64-dim float vector compresses
    to {m} bytes. Search is ADC (asymmetric distance computation): one
    {m}×{k} table of exact query→codeword distances, then every database
    vector's distance is {m} table lookups summed — no float math per
    candidate. Components are fixed-point quantized (floor(x·2^20), the
    round-6 rule), so codeword argmin, the ADC table, and the final
    ranking are exact BIGINT arithmetic cross-engine.

    Scale shape: the codebook ({m}·{k} sub-vectors, a few KB) broadcasts
    to both the encode join and the ADC-table join; encoding is one
    narrow pass over the embedding scan plus a (vec_id, m)-keyed argmin
    window; search aggregates {m} rows per vector and takes top-k via
    TakeOrderedAndProject. The encode output (codes) is the artifact a
    real deployment stages once and reuses per query — at 100 TB only
    the {m}-lookup sum runs per search.
    """
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    qe = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * _PQ_SCALE).cast("bigint"),
    )
    subs = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(qe, m * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("qsub"),
                    )
                    for m in range(_PQ_M)
                ]
            )
        ).alias("s"),
    ).select("vec_id", "s.m", "s.qsub")
    cb = subs.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("cid"), F.col("m").alias("cm"),
        F.col("qsub").alias("csub"),
    )

    w = Window.partitionBy("vec_id", "m").orderBy("dist", "cid")
    codes = (
        subs.join(F.broadcast(cb), F.col("m") == F.col("cm"))
        .select(
            "vec_id", "m", "cid",
            int_l2_sq("qsub", "csub").alias("dist"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "cid")
    )
    qsubs = subs.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("m").alias("qm"), F.col("qsub").alias("qqsub")
    )
    qtab = cb.join(F.broadcast(qsubs), F.col("cm") == F.col("qm")).select(
        F.col("cm").alias("tm"), F.col("cid").alias("tcid"),
        int_l2_sq("qqsub", "csub").alias("d"),
    )
    return (
        codes.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .join(
            F.broadcast(qtab),
            (F.col("m") == F.col("tm")) & (F.col("cid") == F.col("tcid")),
        )
        .groupBy("vec_id")
        .agg(F.sum("d").cast("bigint").alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(_TOP_K)
    )


ann_pq_topk.__doc__ = ann_pq_topk.__doc__.format(m=_PQ_M, k=_PQ_K)


# --- Graph centrality over the k-NN graph ------------------------------------

_PR_SCALE = 1 << 20   # fixed-point rank unit (the round-6 quantization trick)
_PR_K = 3             # out-degree: top-3 integer-dot neighbors per node
_PR_ITERS = 4         # fixed Lloyd-style unrolled rounds
_PR_MOD = 5           # centrality panel: vec_id % 5 == 0


def _panel_knn_edges(spark, sf_dir):
    """Shared directed 3-NN edge generator over the centrality panel
    (vec_id % _PR_MOD == 0, 64x-quantized integer dots, top-_PR_K by
    (dot desc, dst)): returns (panel q with columns vec_id/qv, edges
    src/dst). Consumed by pagerank_knn_centrality (power iteration) and
    triangle_count_knn (clustering structure) — one generator, two graph
    algorithms, so the two entries are guaranteed to describe the SAME
    graph."""
    q = _quantized(spark, sf_dir).filter(F.col("vec_id") % _PR_MOD == 0)
    a = q.select(F.col("vec_id").alias("src"), F.col("qv").alias("qa"))
    b = q.select(F.col("vec_id").alias("dst"), F.col("qv").alias("qb"))
    pairs = (
        a.join(F.broadcast(b), F.col("src") != F.col("dst"))
        .select("src", "dst", int_dot("qa", "qb").alias("dot"))
    )
    return q, _top_k(pairs, _PR_K).select("src", "dst")


# the directed-3NN edge CTEs (q, p, e) shared by the pagerank and triangle
# oracles — mirror of _panel_knn_edges
_KNN_EDGE_CTES = f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT))
               AS qv
    FROM embeddings WHERE vec_id % {_PR_MOD} = 0
),
p AS (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
                i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot
    FROM q a JOIN q b ON a.vec_id <> b.vec_id
),
e AS (
    SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY dot DESC, dst) AS rk
        FROM p
    ) WHERE rk <= {_PR_K}
)""".strip()


def _pagerank_oracle() -> str:
    s, k = _PR_SCALE, _PR_K
    head = f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT))
               AS qv
    FROM embeddings WHERE vec_id % {_PR_MOD} = 0
),
p AS (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
                i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot
    FROM q a JOIN q b ON a.vec_id <> b.vec_id
),
e AS (
    SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY dot DESC, dst) AS rk
        FROM p
    ) WHERE rk <= {k}
),
r0 AS (SELECT vec_id AS v, CAST({s} AS BIGINT) AS r FROM q)"""
    steps = []
    for it in range(_PR_ITERS):
        steps.append(f""",
r{it + 1} AS (
    SELECT r0.v,
           CAST((3 * {s}) // 20
                + (17 * COALESCE(m.m, 0)) // 20 AS BIGINT) AS r
    FROM r0 LEFT JOIN (
        SELECT e.dst AS v, CAST(SUM(r{it}.r // {k}) AS BIGINT) AS m
        FROM e JOIN r{it} ON r{it}.v = e.src
        GROUP BY e.dst
    ) m USING (v)
)""")
    return (
        head
        + "".join(steps)
        + f"\nSELECT v AS vec_id, r AS rank_scaled FROM r{_PR_ITERS}\n"
    )


@register(
    "pagerank_knn_centrality",
    survey="NS-sim(ITERATIVE graph centrality: fixed-point PageRank over the k-NN graph),W1-W3,J1",
    oracle=_pagerank_oracle(),
)
def pagerank_knn_centrality(spark, sf_dir):
    """PageRank over the directed 3-NN graph of the embedding panel
    (vec_id % 5 == 0) — the coreset/representative-selection signal a
    curation pipeline uses to pick CENTRAL documents per region of
    embedding space (and, inverted, to find isolated outliers). The whole
    computation is fixed-point integer (rank unit 2^20, d = 0.85 = 17/20,
    out-degree exactly 3, floor divisions), so FOUR full power-iteration
    rounds stay bit-exact across engines — the round-6 k-means trick
    extended from one Lloyd step to an unrolled iterative algorithm; the
    oracle replays all four rounds as chained CTEs.

    Scale shape: edges materialize ONCE (eager pin — the
    SemDeDup 3x-re-execution lesson) and each round is one
    map-side-combined aggregate on dst plus a broadcast-sized join back
    to the node list: cost is O(iters x |E|) with no lineage growth. The
    quantized-dot edge generator here is brute-force over the panel
    (knn_join_topk's measured shape); at 100 TB the drop-in edge source
    is the IVF/LSH candidate-pair stage two queries up — the iteration
    itself never changes."""
    q, edges = _panel_knn_edges(spark, sf_dir)
    edges = pin(edges)  # materialize once for all rounds
    nodes = q.select(F.col("vec_id").alias("v"))
    r = nodes.select("v", F.lit(_PR_SCALE).cast("bigint").alias("r"))
    for _ in range(_PR_ITERS):
        # the rank vector is panel-sized (the op's contract — a curation
        # panel, not the corpus), so broadcasting it into the edge join
        # keeps each round at ONE aggregate shuffle; a billion-node graph
        # would instead bucket edges and ranks on the same key
        contrib = (
            edges.join(F.broadcast(r), edges.src == r.v)
            .select("dst", F.expr(f"r div {_PR_K}").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").cast("bigint").alias("m"))
        )
        r = (
            nodes.join(
                F.broadcast(contrib), nodes.v == contrib.dst, "left"
            )
            .select(
                "v",
                (
                    F.lit((3 * _PR_SCALE) // 20)
                    + F.expr("17 * coalesce(m, 0) div 20")
                ).cast("bigint").alias("r"),
            )
        )
    return r.select(F.col("v").alias("vec_id"), F.col("r").alias("rank_scaled"))


_AFF_Q = 1 << 20  # fixed-point unit for the pooled source centroids


@register(
    "source_affinity_matrix",
    survey="NS-sim(source-level embedding affinity matrix for mixture design),A3-A6,J1",
    oracle=f"""
WITH j AS (
    SELECT d.source, e.embedding
    FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
),
long AS (
    SELECT source, u.dim,
           CAST(floor(CAST(u.x AS DOUBLE) * {_AFF_Q}) AS BIGINT) AS q
    FROM j CROSS JOIN LATERAL (
        SELECT unnest(range(1, len(embedding) + 1)) AS dim,
               unnest(embedding) AS x
    ) u
),
s AS (
    SELECT source, dim, CAST(SUM(q) AS BIGINT) AS qs
    FROM long GROUP BY source, dim
),
n AS (
    SELECT source, CAST(SUM(qs * qs) AS BIGINT) AS nrm2
    FROM s GROUP BY source
),
p AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(SUM(a.qs * b.qs) AS BIGINT) AS dot
    FROM s a JOIN s b ON a.dim = b.dim AND a.source < b.source
    GROUP BY a.source, b.source
)
SELECT p.source_a, p.source_b, p.dot,
       CAST(p.dot AS DOUBLE) / (sqrt(CAST(na.nrm2 AS DOUBLE))
                                * sqrt(CAST(nb.nrm2 AS DOUBLE))) AS cos_sim
FROM p
JOIN n na ON na.source = p.source_a
JOIN n nb ON nb.source = p.source_b
""",
)
def source_affinity_matrix(spark, sf_dir):
    """Pairwise embedding affinity between SOURCES — the mixture-design
    diagnostic that tells a data team which sources are semantically
    redundant (high cosine → near-duplicate distributions, candidates for
    down-weighting) before committing a sampling mixture. Each source's
    centroid is its quantized embedding SUM (fixed-point floor(x·2²⁰) —
    cosine is scale-invariant, so the sum stands in for the mean with no
    division); all dots/norms are exact BIGINTs and the single IEEE step
    per pair is the final dot/(√·√).

    Scale shape: one narrow posexplode → ONE map-side-combined
    (source, dim) aggregate — output |sources|·dims rows no matter the
    corpus — then the pairwise stage runs entirely on that bounded table
    (self-join on dim, |sources|²·dims rows). The corpus is touched
    exactly once; at 100 TB this is a scan + one shuffle whose reduce
    side is thousands of rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = emb.join(docs, emb.vec_id == docs.doc_id).select("source", "embedding")
    long = j.select(
        "source",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * _AFF_Q).cast("bigint"),
            )
        ).alias("dim0", "q"),
    ).select("source", (F.col("dim0") + 1).alias("dim"), "q")
    s = long.groupBy("source", "dim").agg(F.sum("q").cast("bigint").alias("qs"))
    n = s.groupBy("source").agg(
        F.sum(F.col("qs") * F.col("qs")).cast("bigint").alias("nrm2")
    )
    a = s.select(
        F.col("source").alias("source_a"),
        F.col("dim").alias("dim_a"),
        F.col("qs").alias("qa"),
    )
    b = s.select(
        F.col("source").alias("source_b"),
        F.col("dim").alias("dim_b"),
        F.col("qs").alias("qb"),
    )
    p = (
        a.join(
            b,
            (F.col("dim_a") == F.col("dim_b"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.col("qa") * F.col("qb")).cast("bigint").alias("dot"))
    )
    na = n.select(F.col("source").alias("source_a"), F.col("nrm2").alias("na"))
    nb = n.select(F.col("source").alias("source_b"), F.col("nrm2").alias("nb"))
    return (
        p.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "dot",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("na").cast("double"))
                   * F.sqrt(F.col("nb").cast("double")))
            ).alias("cos_sim"),
        )
    )


def _triangle_oracle(head: str = _KNN_EDGE_CTES) -> str:
    """Degree-ordered-orientation triangle tail over any edge head ending
    in CTE ``e`` with (src, dst, ...) — shared by the panel and
    corpus-grain (IVF) triangle oracles. The multiply-referenced CTEs
    (``und`` feeds the degree aggregate and the orientation; ``o`` feeds
    all three wedge arms) are MATERIALIZED so DuckDB replays the edge
    generator once, not once per reference."""
    return head + """,
und AS MATERIALIZED (
    SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v FROM e
),
deg AS (
    SELECT n, CAST(COUNT(*) AS BIGINT) AS d
    FROM (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
    GROUP BY n
),
ok AS MATERIALIZED (
    SELECT n, d, d * 4294967296 + n AS okey FROM deg
),
o AS MATERIALIZED (
    SELECT CASE WHEN ku.okey < kv.okey THEN und.u ELSE und.v END AS a,
           CASE WHEN ku.okey < kv.okey THEN und.v ELSE und.u END AS b,
           CASE WHEN ku.okey < kv.okey THEN kv.okey ELSE ku.okey END AS okey_b
    FROM und
    JOIN ok ku ON und.u = ku.n
    JOIN ok kv ON und.v = kv.n
),
tri AS (
    SELECT w1.a AS x, w1.b AS y, w2.b AS z
    FROM o w1
    JOIN o w2 ON w1.a = w2.a AND w1.okey_b < w2.okey_b
    JOIN o cl ON cl.a = w1.b AND cl.b = w2.b
),
tn AS (
    SELECT n, CAST(COUNT(*) AS BIGINT) AS t
    FROM (SELECT x AS n FROM tri
          UNION ALL SELECT y AS n FROM tri
          UNION ALL SELECT z AS n FROM tri)
    GROUP BY n
)
SELECT deg.n AS vec_id, deg.d AS degree,
       COALESCE(tn.t, 0) AS n_triangles,
       CASE WHEN deg.d >= 2
            THEN CAST(2 * COALESCE(tn.t, 0) AS DOUBLE)
                 / (deg.d * (deg.d - 1)) END AS clustering
FROM deg LEFT JOIN tn ON deg.n = tn.n
"""


@register(
    "triangle_count_knn",
    survey="NS-sim(per-node triangle count + clustering coefficient over the k-NN graph, degree-ordered orientation),J1,A3-A6",
    oracle=_triangle_oracle(),
)
def triangle_count_knn(spark, sf_dir):
    """Per-node triangle count and local clustering coefficient over the
    panel k-NN graph — the third graph algorithm on the SAME edge
    generator as pagerank_knn_centrality (shared _panel_knn_edges):
    components answer "which", PageRank answers "how central", triangles
    answer "how CLUSTERED" — high-clustering embedding neighborhoods are
    semantic clumps (dedup candidates), zero-clustering hubs are
    boundary/outlier points. Uses the degree-ordered orientation
    algorithm (orient every undirected edge from its (degree, id)-lower
    endpoint; a triangle x<y<z is found exactly once, as the wedge at x
    closed by y->z), the standard way to bound distributed triangle
    enumeration: wedge fan-out is sum of ORIENTED out-degrees squared
    <= O(m^1.5) instead of the unoriented sum-deg^2 that explodes on
    hubs. Clustering coefficient = ONE division 2t / d(d-1).

    Scale shape: symmetrize + degree are linear shuffles on node id; the
    orientation lookups broadcast the panel-sized degree table; the
    wedge and closing joins are EQUI-joins on node and (node, node)
    keys (no nested loop past the shared, reviewed pair generator). At
    corpus scale the panel generator swaps for the IVF/LSH candidate
    stage exactly as pagerank's docstring prescribes (triangle_count_ivf
    below IS that swap); orientation and closing join are corpus-safe
    as-is."""
    q, edges = _panel_knn_edges(spark, sf_dir)
    return _triangles_over_edges(edges, broadcast_deg=True)


def _triangles_over_edges(edges, *, broadcast_deg, checkpoint=False):
    """Shared degree-ordered-orientation machinery: symmetrize+dedup the
    (src, dst, ...) edges, orient each edge from its (degree, id)-lower
    endpoint, enumerate triangles as closed wedges, return (vec_id,
    degree, n_triangles, clustering). ``broadcast_deg`` broadcasts the
    degree table into the orientation joins — correct for the panel
    variant (|panel| rows) and WRONG at corpus grain, where the degree
    table is corpus-sized and the orientation joins must stay plain
    equi-joins. ``checkpoint`` eagerly materializes the undirected and
    oriented edge lists so an expensive generator (the IVF candidate
    chain) runs once, not once per wedge arm."""
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    if checkpoint:
        und = pin(und)
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    ok = deg.select(
        "n", "d", (F.col("d") * F.lit(4294967296) + F.col("n")).alias("okey")
    )
    ku = ok.select(F.col("n").alias("ku_n"), F.col("okey").alias("ku_okey"))
    kv = ok.select(F.col("n").alias("kv_n"), F.col("okey").alias("kv_okey"))
    if broadcast_deg:
        ku, kv = F.broadcast(ku), F.broadcast(kv)
    flip = F.col("ku_okey") < F.col("kv_okey")
    o = (
        und.join(ku, F.col("u") == F.col("ku_n"))
        .join(kv, F.col("v") == F.col("kv_n"))
        .select(
            F.when(flip, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(flip, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(flip, F.col("kv_okey"))
            .otherwise(F.col("ku_okey"))
            .alias("okey_b"),
        )
    )
    if checkpoint:
        o = pin(o)
    w1 = o.select(
        F.col("a").alias("w1_a"), F.col("b").alias("w1_b"),
        F.col("okey_b").alias("w1_ob"),
    )
    w2 = o.select(
        F.col("a").alias("w2_a"), F.col("b").alias("w2_b"),
        F.col("okey_b").alias("w2_ob"),
    )
    cl = o.select(F.col("a").alias("cl_a"), F.col("b").alias("cl_b"))
    tri = (
        w1.join(
            w2,
            (F.col("w1_a") == F.col("w2_a"))
            & (F.col("w1_ob") < F.col("w2_ob")),
        )
        .join(
            cl,
            (F.col("cl_a") == F.col("w1_b"))
            & (F.col("cl_b") == F.col("w2_b")),
        )
        .select(
            F.col("w1_a").alias("x"), F.col("w1_b").alias("y"),
            F.col("w2_b").alias("z"),
        )
    )
    tn = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    t0 = F.coalesce(F.col("t"), F.lit(0).cast("bigint"))
    return deg.join(tn, "n", "left").select(
        F.col("n").alias("vec_id"),
        F.col("d").alias("degree"),
        t0.alias("n_triangles"),
        F.when(
            F.col("d") >= 2,
            (2 * t0).cast("double") / (F.col("d") * (F.col("d") - 1)),
        ).alias("clustering"),
    )


_KCORE_K = 2
_KCORE_ROUNDS = 4


def _kcore_oracle(head: str = _KNN_EDGE_CTES) -> str:
    """Unrolled peel rounds over any edge head ending in CTE ``e`` with
    (src, dst, ...) — shared by the panel and corpus-grain (IVF) k-core
    oracles."""
    k, rounds = _KCORE_K, _KCORE_ROUNDS
    parts = [
        head,
        """,
und AS MATERIALIZED (
    SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v FROM e
),
n0 AS (
    SELECT DISTINCT n
    FROM (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
),
e0 AS (SELECT u, v FROM und)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
d{r} AS (
    SELECT n, CAST(COUNT(*) AS BIGINT) AS d
    FROM (SELECT u AS n FROM e{r-1} UNION ALL SELECT v AS n FROM e{r-1})
    GROUP BY n
),
k{r} AS (SELECT n FROM d{r} WHERE d >= {k}),
e{r} AS MATERIALIZED (
    SELECT p.u, p.v FROM e{r-1} p
    JOIN k{r} a ON p.u = a.n JOIN k{r} b ON p.v = b.n
)""")
    parts.append(f""",
df AS (
    SELECT n, CAST(COUNT(*) AS BIGINT) AS d
    FROM (SELECT u AS n FROM e{rounds} UNION ALL SELECT v AS n FROM e{rounds})
    GROUP BY n
),
d0f AS (
    SELECT n, CAST(COUNT(*) AS BIGINT) AS d
    FROM (SELECT u AS n FROM e0 UNION ALL SELECT v AS n FROM e0)
    GROUP BY n
)
SELECT n0.n AS vec_id,
       d0f.d AS deg0,
       CAST(CASE WHEN k{rounds}.n IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
           AS in_core,
       COALESCE(df.d, 0) AS core_deg
FROM n0
JOIN d0f ON d0f.n = n0.n
LEFT JOIN k{rounds} ON k{rounds}.n = n0.n
LEFT JOIN df ON df.n = n0.n""")
    return "".join(parts)


@register(
    "kcore_decompose_knn",
    survey=f"NS-sim({_KCORE_K}-core peel over the k-NN graph: bounded-round degree peeling, dense-region extraction),J1,A3",
    oracle=_kcore_oracle(),
)
def kcore_decompose_knn(spark, sf_dir):
    """{k}-core extraction over the panel k-NN graph — the FOURTH consumer
    of the shared ``_panel_knn_edges`` generator (components → "which",
    PageRank → "how central", triangles → "how clustered", k-core → "how
    DENSE a region each node survives in"). Nodes are peeled in rounds:
    drop everything with degree < {k} in the surviving subgraph, repeat —
    the classic dense-subgraph primitive for picking the semantic cores of
    embedding neighborhoods (core members are redundancy candidates;
    early-peeled nodes are fringe/outliers). Both engines run the same
    FIXED {r} rounds (the pagerank_knn_centrality determinism pattern —
    no data-dependent loop in the oracle), and pytest proves {r} rounds
    reach the true fixpoint on this corpus, so ``in_core`` IS the 2-core,
    not an approximation of it.

    Scale shape: each round is a linear degree aggregate plus two
    equi-joins of the edge list against the (shrinking) keep set — the
    connected-components shuffle anatomy, never a pairwise blow-up; the
    edge list is materialized once (pinned) and only SHRINKS.
    At corpus scale the panel generator swaps for the LSH candidate
    stage, peeling unchanged (kcore_decompose_ivf below is that swap);
    a convergence-checked variant would reuse the CC fingerprint loop
    (operators/dedup.connected_components)."""
    _, edges = _panel_knn_edges(spark, sf_dir)
    return _kcore_over_edges(edges)


def _kcore_over_edges(edges):
    """Shared peel machinery: undirect (src, dst, ...) edges once, run
    _KCORE_ROUNDS degree-peel rounds, return (vec_id, deg0, in_core,
    core_deg). Consumed by the panel and corpus-grain (IVF) k-core."""
    und = pin(
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct(),  # shared generator run once; rounds only shrink
    )

    def degrees(e):
        return (
            e.select(F.col("u").alias("n"))
            .unionAll(e.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        )

    n0 = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .distinct()
    )
    d0 = degrees(und)
    e = und
    keep = None
    for r in range(_KCORE_ROUNDS):
        # keep feeds two joins and e feeds the next round's degree pass AND
        # both join probes — without materializing each round, the final
        # plan re-derives round r-1 three times per reference (≈3^rounds
        # copies of the undirected scan; measured 2.3× wall on the IVF
        # variant at sf0.1). A pin truncates the lineage so each
        # round costs exactly one degree aggregate + one two-sided
        # semi-filter join over the SHRINKING edge list.
        keep = pin(degrees(e).filter(F.col("d") >= _KCORE_K).select("n"))
        e = (
            e.join(keep.withColumnRenamed("n", "ku"), e.u == F.col("ku"))
            .join(keep.withColumnRenamed("n", "kv"), e.v == F.col("kv"))
            .select("u", "v")
        )
        if r < _KCORE_ROUNDS - 1:
            e = pin(e)
    df_final = degrees(e)
    return (
        n0.join(d0.withColumnRenamed("d", "deg0"), "n")
        .join(
            keep.withColumn("flag", F.lit(1).cast("bigint")), "n", "left"
        )
        .join(df_final.withColumnRenamed("d", "core_deg"), "n", "left")
        .select(
            F.col("n").alias("vec_id"),
            "deg0",
            F.coalesce(F.col("flag"), F.lit(0).cast("bigint")).alias("in_core"),
            F.coalesce(F.col("core_deg"), F.lit(0).cast("bigint")).alias(
                "core_deg"
            ),
        )
    )


kcore_decompose_knn.__doc__ = kcore_decompose_knn.__doc__.format(
    k=_KCORE_K, r=_KCORE_ROUNDS
)


_LPA_ROUNDS = 4  # fixed synchronous rounds (the pagerank determinism pattern)


def _lpa_oracle() -> str:
    head = (
        _KNN_EDGE_CTES
        + """,
ue AS (
    SELECT src, dst FROM e
    UNION
    SELECT dst AS src, src AS dst FROM e
),
l0 AS (SELECT vec_id AS v, CAST(vec_id AS BIGINT) AS lab FROM q)"""
    )
    return (
        head
        + _lpa_round_ctes()
        + f"\nSELECT v AS vec_id, lab AS community FROM l{_LPA_ROUNDS}\n"
    )


def _lpa_round_ctes() -> str:
    """The _LPA_ROUNDS unrolled (count, arg-max) CTE pairs — shared by
    the panel and the corpus-grain (IVF-edge) LPA oracles."""
    steps = []
    for it in range(_LPA_ROUNDS):
        steps.append(f""",
c{it + 1} AS (
    SELECT ue.dst AS v, l{it}.lab, CAST(COUNT(*) AS BIGINT) AS c
    FROM ue JOIN l{it} ON l{it}.v = ue.src
    GROUP BY ue.dst, l{it}.lab
),
l{it + 1} AS (
    SELECT v, lab FROM (
        SELECT v, lab,
               ROW_NUMBER() OVER (PARTITION BY v
                                  ORDER BY c DESC, lab) AS rk
        FROM c{it + 1}
    ) WHERE rk = 1
)""")
    return "".join(steps)


@register(
    "label_propagation_knn",
    survey="NS-sim(ITERATIVE community detection: synchronous mode-vote label propagation over the symmetrized k-NN graph),W1-W3,J1,A3-A6",
    oracle=_lpa_oracle(),
)
def label_propagation_knn(spark, sf_dir):
    """Label-propagation community detection over the symmetrized panel
    k-NN graph — the FIFTH consumer of the shared ``_panel_knn_edges``
    generator (components → "which", PageRank → "how central", triangles
    → "how clustered", k-core → "how dense", LPA → "which COMMUNITY"):
    the topic/cluster assignment a curation pipeline uses to group
    semantically-kin documents without training k-means. Every node
    starts as its own label (vec_id); each of the {r} synchronous rounds
    re-labels every node with the MODE of its neighbors' labels, ties
    broken toward the smallest label — fully deterministic, so the oracle
    replays all {r} rounds as unrolled CTE pairs (count, arg-max). Unlike
    connected components (min-label, converges to one label per
    component), mode-voting stabilizes at DENSITY boundaries, yielding
    sub-component communities.

    Scale shape: the directed 3-NN edges symmetrize once (union+distinct,
    pinned — no lineage growth across rounds); each round is ONE
    map-side-combined (node, label) count aggregate followed by a
    label-cardinality arg-max aggregate — the pagerank per-round shuffle
    anatomy, cost O(rounds × |E|), never pairwise. The label vector is
    panel-sized so it broadcasts into the edge join; a billion-node graph
    buckets edges and labels on the same key instead, the rounds
    unchanged (and the edge source swaps to knn_graph_ivf's cell-join
    candidates at corpus grain)."""
    _, edges = _panel_knn_edges(spark, sf_dir)
    return _lpa_over_edges(edges, broadcast_labels=True)


label_propagation_knn.__doc__ = label_propagation_knn.__doc__.format(r=_LPA_ROUNDS)


def _lpa_over_edges(edges, broadcast_labels):
    """Shared LPA machinery: symmetrize (src, dst[, ...]) edges once,
    run _LPA_ROUNDS synchronous mode-vote rounds, return (vec_id,
    community). ``broadcast_labels=True`` is the panel regime (label
    vector is panel-sized); False leaves the per-round label join to the
    planner as a plain equi-join on the node key — the corpus regime,
    where labels are corpus-sized and bucket/co-partition with edges."""
    und = pin(
        edges.select("src", "dst")
        .unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct(),  # symmetrize once; every round reuses it
    )
    lab = und.select(F.col("src").alias("v")).distinct().select(
        "v", F.col("v").cast("bigint").alias("lab")
    )
    for _ in range(_LPA_ROUNDS):
        rhs = F.broadcast(lab) if broadcast_labels else lab
        votes = und.join(rhs, und["src"] == lab["v"]).select("dst", "lab")
        counts = votes.groupBy("dst", "lab").agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        # arg-max as an aggregate (map-side combinable): max(struct(c, -lab))
        # orders by count desc then label asc — identical to the oracle's
        # (c DESC, lab) row_number pick.
        lab = counts.groupBy("dst").agg(
            F.max(F.struct(F.col("c"), (-F.col("lab")).alias("nl"))).alias("m")
        ).select(
            F.col("dst").alias("v"),
            (-F.col("m.nl")).cast("bigint").alias("lab"),
        )
    return lab.select(F.col("v").alias("vec_id"), F.col("lab").alias("community"))


# ---------------------------------------------------------------------------
# Corpus-to-corpus approximate k-NN GRAPH via IVF cells — the measured scale
# path the panel generator's docstring promises: candidates come from shared
# probed cells, never from an all-pairs join.

_GIVF_STRIDE = 50   # deterministic coarse centroids: vec_id % stride == 0
_GIVF_PROBES = 2
_GIVF_K = 3
_GIVF_SFAC = 25     # two-level: supers = centroids with cid % (stride·25) == 0
_GIVF_SPROBES = 2   # branches probed per vector at the coarse level


def _quantized(spark, sf_dir):
    """The IVF family's shared quantized table (vec_id, qv): floor(x·64)
    integer vectors — the _panel_knn_edges metric. ONE definition: the
    graph builders' degeneracy/byte-equality pins require every consumer
    (assignment, recursive-split scoring) to quantize identically."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 64).cast("bigint"),
        ).alias("qv"),
    )


# The k-NN graph stage every builder shares: candidate pairs from a cell
# key, exact integer dots on the quantized vectors, top-k per source by
# (dot desc, dst asc) — the candidate → verify → top-k pipeline.


def _cell_pairs(a, b, keys):
    """Distinct (src, dst) pairs of a vector in ``a`` and a vector in
    ``b`` that agree on every column of ``keys``, with src != dst."""
    on = F.col(f"a.{keys[0]}") == F.col(f"b.{keys[0]}")
    for key in keys[1:]:
        on = on & (F.col(f"a.{key}") == F.col(f"b.{key}"))
    return (
        a.alias("a")
        .join(b.alias("b"), on & (F.col("a.vec_id") != F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst")
        )
        .distinct()
    )


def _score_pairs(cand, q):
    """(src, dst, dot): each candidate pair with the exact integer dot of
    its two quantized vectors (``q`` = (vec_id, qv))."""
    return (
        cand.join(q.select(F.col("vec_id").alias("src"),
                           F.col("qv").alias("qa")), "src")
        .join(q.select(F.col("vec_id").alias("dst"),
                       F.col("qv").alias("qb")), "dst")
        .select("src", "dst", int_dot("qa", "qb").alias("dot"))
    )


def _top_k(scored, k):
    """The ``k`` best rows per src by (dot desc, dst asc); every column of
    ``scored`` is kept."""
    from pyspark.sql import Window

    wk = Window.partitionBy("src").orderBy(F.desc("dot"), F.asc("dst"))
    return (
        scored.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )


def _ivf_assign(spark, sf_dir, stride=_GIVF_STRIDE, probes=_GIVF_PROBES,
                super_fac=None, sprobes=_GIVF_SPROBES,
                super2_fac=None, sprobes2=_GIVF_SPROBES):
    """Shared IVF coarse-assignment stage: quantize the embeddings table
    (floor(x·64) integer vectors), assign every vector to its ``probes``
    nearest coarse cells (single-level n×C ranking, or two-level via
    ``super_fac`` branches — see knn_graph_ivf_edges; or THREE-level via
    ``super2_fac``: every ``stride·super_fac·super2_fac``-th vector
    seeds a depth-2 branch, each super joins its top-dot depth-2
    branch, and a vector descends the tree — rank ``sprobes2`` depth-2
    branches, then ``sprobes`` supers inside them, then ``probes``
    cells inside those — per-vector work ~|sup2| + sprobes2·s2 +
    sprobes·s cents instead of C. Probing ALL depth-2 branches
    degenerates to the two-level assignment exactly, pytest-pinned,
    the same seam contract the two-level path keeps with
    single-level). Returns ``(q, assigned)``: the quantized table
    (vec_id, qv) and the cell map (vec_id, cid). Consumed by the k-NN
    graph builders and the semantic decontamination screen."""
    from pyspark.sql import Window

    q = _quantized(spark, sf_dir)
    # fan_out: every per-VECTOR ranking below (n×C or n×√C integer dots)
    # is narrow over the embeddings scan — a single-file scan would rank
    # on ONE core (guide §2.4). Centroid/branch seeds keep the plain scan
    # (they are broadcast builds; a repartition there buys nothing).
    qf = fan_out(q)
    cents = q.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("qc")
    )
    cdot = int_dot("qv", "qc")
    wp = Window.partitionBy("vec_id").orderBy(F.desc("cdot"), F.asc("cid"))
    if super_fac is None:
        fanout = qf.join(F.broadcast(cents))
    else:
        sup = q.filter(F.col("vec_id") % (stride * super_fac) == 0).select(
            F.col("vec_id").alias("grp"), F.col("qv").alias("qg")
        )
        gdot = int_dot("x", "qg")
        # centroid → its top-dot branch (C×√C work, centroid-side only)
        cw = Window.partitionBy("cid").orderBy(F.desc("gdot"), F.asc("grp"))
        cmem = (
            cents.withColumnRenamed("qc", "x")
            .join(F.broadcast(sup))
            .select("cid", F.col("x").alias("qc"), "grp", gdot.alias("gdot"))
            .withColumn("rn", F.row_number().over(cw))
            .filter(F.col("rn") == 1)
            .select("cid", "qc", "grp")
        )
        # vector → its `sprobes` top-dot branches (n×√C map-side fan-out,
        # pruned by a Partial WindowGroupLimit before any exchange)
        vw = Window.partitionBy("vec_id").orderBy(F.desc("gdot"), F.asc("grp"))
        if super2_fac is None:
            vcand = qf.withColumnRenamed("qv", "x").join(F.broadcast(sup))
        else:
            # depth-3 descent: seed depth-2 branches, attach each super
            # to its top-dot depth-2 branch (super-side work only), and
            # have each vector rank the |sup2| branch seeds, then only
            # the probed branches' supers — the same √-move applied one
            # level up, so per-vector branch work is ~|sup2| +
            # sprobes2·(S/|sup2|) instead of S
            sup2 = q.filter(
                F.col("vec_id") % (stride * super_fac * super2_fac) == 0
            ).select(F.col("vec_id").alias("g2"), F.col("qv").alias("qg2"))
            g2dot = int_dot("qg", "qg2")
            s2w = Window.partitionBy("grp").orderBy(
                F.desc("g2dot"), F.asc("g2")
            )
            s2mem = (
                sup.join(F.broadcast(sup2))
                .select("grp", "qg", "g2", g2dot.alias("g2dot"))
                .withColumn("rn", F.row_number().over(s2w))
                .filter(F.col("rn") == 1)
                .select("grp", "qg", "g2")
            )
            v2dot = int_dot("x", "qg2")
            vw2 = Window.partitionBy("vec_id").orderBy(
                F.desc("v2dot"), F.asc("g2")
            )
            vprobe2 = (
                qf.withColumnRenamed("qv", "x")
                .join(F.broadcast(sup2))
                .select("vec_id", "x", "g2", v2dot.alias("v2dot"))
                .withColumn("rn", F.row_number().over(vw2))
                .filter(F.col("rn") <= sprobes2)
                .select("vec_id", "x", "g2")
            )
            vcand = vprobe2.join(F.broadcast(s2mem), "g2")
        vprobe = (
            vcand
            .select("vec_id", F.col("x").alias("qv"), "grp",
                    gdot.alias("gdot"))
            .withColumn("rn", F.row_number().over(vw))
            .filter(F.col("rn") <= sprobes)
            .select("vec_id", "qv", "grp")
        )
        # rank only the probed branches' centroids (n×(sprobes·C/√C))
        fanout = vprobe.join(
            F.broadcast(cmem.select("grp", "cid", "qc")), "grp"
        )
    assigned = (
        fanout
        .select("vec_id", "qv", "cid", cdot.alias("cdot"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= probes)
        .select("vec_id", "cid")
    )
    return q, assigned


def knn_graph_ivf_edges(spark, sf_dir, stride=_GIVF_STRIDE,
                        probes=_GIVF_PROBES, k=_GIVF_K,
                        super_fac=None, sprobes=_GIVF_SPROBES,
                        super2_fac=None, sprobes2=_GIVF_SPROBES):
    """Approximate k-NN graph over the WHOLE embeddings table (not the
    centrality panel): quantize (floor(x·64) — the _panel_knn_edges
    integer-dot metric), assign every vector to its ``probes`` nearest
    coarse cells, self-join on the cell id, dedup candidate pairs, exact
    integer-dot rank top-``k`` per source. Deterministic end to end.

    ``super_fac=None`` ranks every centroid per vector — the n×C
    assignment whose quadratic term the round-9b probe measured (α≈1.5
    once C grows with the corpus). ``super_fac=s`` switches to TWO-LEVEL
    assignment (the semdedup_two_level √k move applied to the IVF coarse
    table itself): every ``stride·s``-th vector seeds a branch, each
    centroid joins its top-dot branch, and a vector ranks only the
    ``sprobes`` nearest branches' centroids — per-vector work falls from
    C dots to ~C/s + sprobes·s. Probing ALL branches degenerates to the
    single-level assignment exactly (pytest-pinned), so the two paths
    share every downstream stage (quantization + cell assignment live in
    the shared ``_ivf_assign``)."""
    q, assigned = _ivf_assign(spark, sf_dir, stride=stride, probes=probes,
                              super_fac=super_fac, sprobes=sprobes,
                              super2_fac=super2_fac, sprobes2=sprobes2)
    return _top_k(_score_pairs(_cell_pairs(assigned, assigned, ["cid"]), q), k)


# the IVF candidate chain (ends in CTE ``scored`` = exact-dot-scored
# candidate pairs) and the edge set on top of it (CTE ``e`` — the
# _KNN_EDGE_CTES convention); consumed by knn_graph_ivf, the corpus-grain
# centrality family, and hard_negative_mining (which ranks over a
# label-filtered ``scored`` instead of ``e``)
_GIVF_CAND_CTES = f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT))
               AS qv
    FROM embeddings
),
cents AS (
    SELECT vec_id AS cid, qv AS qc FROM q WHERE vec_id % {_GIVF_STRIDE} = 0
),
sup AS (
    SELECT vec_id AS grp, qv AS qg FROM q
    WHERE vec_id % {_GIVF_STRIDE * _GIVF_SFAC} = 0
),
cmem AS (
    SELECT cid, qc, grp FROM (
        SELECT c.cid, c.qc, s.grp,
               ROW_NUMBER() OVER (
                   PARTITION BY c.cid
                   ORDER BY list_sum(list_transform(list_zip(c.qc, s.qg),
                                     x -> x[1] * x[2])) DESC, s.grp
               ) AS rn
        FROM cents c CROSS JOIN sup s
    ) WHERE rn = 1
),
vprobe AS (
    SELECT vec_id, qv, grp FROM (
        SELECT v.vec_id, v.qv, s.grp,
               ROW_NUMBER() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_sum(list_transform(list_zip(v.qv, s.qg),
                                     x -> x[1] * x[2])) DESC, s.grp
               ) AS rn
        FROM q v CROSS JOIN sup s
    ) WHERE rn <= {_GIVF_SPROBES}
),
assigned AS MATERIALIZED (
    SELECT vec_id, cid FROM (
        SELECT p.vec_id, m.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY list_sum(list_transform(list_zip(p.qv, m.qc),
                                     x -> x[1] * x[2])) DESC, m.cid
               ) AS rn
        FROM vprobe p JOIN cmem m USING (grp)
    ) WHERE rn <= {_GIVF_PROBES}
),
cand AS (
    SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
    FROM assigned a JOIN assigned b
      ON a.cid = b.cid AND a.vec_id <> b.vec_id
),
scored AS (
    SELECT c.src, c.dst,
           CAST(list_sum(list_transform(list_zip(qa.qv, qb.qv),
                    x -> x[1] * x[2])) AS BIGINT) AS dot
    FROM cand c
    JOIN q qa ON qa.vec_id = c.src
    JOIN q qb ON qb.vec_id = c.dst
)"""

_GIVF_EDGE_CTES = _GIVF_CAND_CTES + f""",
e AS MATERIALIZED (
    SELECT src, dst, dot FROM (
        SELECT src, dst, dot,
               ROW_NUMBER() OVER (
                   PARTITION BY src ORDER BY dot DESC, dst) AS rk
        FROM scored
    ) WHERE rk <= {_GIVF_K}
)"""


@register(
    "knn_graph_ivf",
    survey="NS-sim(corpus-to-corpus approximate k-NN GRAPH via IVF cells: TWO-LEVEL probe-2 coarse assignment, cell-joined candidates, exact integer-dot verify),J1,W2",
    oracle=_GIVF_EDGE_CTES + "\nSELECT src, dst, dot FROM e\n",
)
def knn_graph_ivf(spark, sf_dir):
    """The corpus-to-corpus k-NN GRAPH at scale — the candidate-stage
    upgrade the graph family's docstrings promise (pagerank / triangles /
    k-core consume a brute-force panel generator whose panel² term was
    measured α≈2; THIS is the replacement shape for a full-corpus graph):
    every vector joins its {p} probed IVF cells, candidates are pairs
    sharing a cell (a pure equi-join on the cell id — pair fan-out
    bounded by Σ(probes·|cell|)², never n²), and the exact 64×-quantized
    integer dot (the _panel_knn_edges metric — order-free, hash-exact)
    ranks the top-{k} neighbors per source through a Partial
    WindowGroupLimit. Approximate-but-deterministic: recall follows the
    IVF probe trade-off; pytest pins that probing ALL cells degrades to
    the exact brute-force graph.

    Scale shape: assignment is TWO-LEVEL (the semdedup_two_level √k move
    applied to the IVF coarse table itself): supers and branch
    membership are centroid-side work, and each vector ranks ~C/{s}
    supers plus {sp}·{s} branch centroids instead of all C — the
    round-9b probe measured the single-level n×C fan-out at α≈1.5 once C
    grows with the corpus, and two-level removes that quadratic term.
    All coarse tables broadcast; every per-vector fan-out is pruned
    map-side by a Partial WindowGroupLimit before its exchange; the
    candidate join shuffles (vec_id, cid) pairs on the cell key — hot
    cells are AQE skew-join territory, and stride grows with the corpus
    to hold cells bounded; the verify joins are id-equi-joins carrying
    the quantized vectors; the final rank prunes map-side to {k}
    rows/source. No all-pairs stage anywhere. Caveat (measured,
    BASELINE.md round-9b): the cell bound assumes the data SPREADS — on
    an exact-duplicate-flooded corpus every copy of a vector crowds the
    same cell and the candidate join pays multiplicity², so a pipeline
    runs exact/near dedup BEFORE graph construction (the
    distinct-embedding probe isolates the operator itself).
    """
    return knn_graph_ivf_edges(spark, sf_dir, super_fac=_GIVF_SFAC)


knn_graph_ivf.__doc__ = knn_graph_ivf.__doc__.format(p=_GIVF_PROBES, k=_GIVF_K, s=_GIVF_SFAC, sp=_GIVF_SPROBES)


# depth-3 entry config: strides chosen so the hierarchy is REAL at the
# driver's correctness scale (sf0.01 vec_ids 0..499 → 10 cents, 5 supers,
# 3 depth-2 branches — every level has multiple members, so the descent
# genuinely prunes rather than passing through a single branch)
_H3_STRIDE = 50
_H3_SFAC = 2      # supers = every 100th vector
_H3_S2FAC = 2     # depth-2 branches = every 200th vector
_H3_SPROBES = 2
_H3_SPROBES2 = 2

_HIER3_EDGE_CTES = f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT))
               AS qv
    FROM embeddings
),
cents AS (
    SELECT vec_id AS cid, qv AS qc FROM q WHERE vec_id % {_H3_STRIDE} = 0
),
sup AS (
    SELECT vec_id AS grp, qv AS qg FROM q
    WHERE vec_id % {_H3_STRIDE * _H3_SFAC} = 0
),
sup2 AS (
    SELECT vec_id AS g2, qv AS qg2 FROM q
    WHERE vec_id % {_H3_STRIDE * _H3_SFAC * _H3_S2FAC} = 0
),
s2mem AS (
    SELECT grp, qg, g2 FROM (
        SELECT s.grp, s.qg, t.g2,
               ROW_NUMBER() OVER (
                   PARTITION BY s.grp
                   ORDER BY list_sum(list_transform(list_zip(s.qg, t.qg2),
                                     x -> x[1] * x[2])) DESC, t.g2
               ) AS rn
        FROM sup s CROSS JOIN sup2 t
    ) WHERE rn = 1
),
cmem AS (
    SELECT cid, qc, grp FROM (
        SELECT c.cid, c.qc, s.grp,
               ROW_NUMBER() OVER (
                   PARTITION BY c.cid
                   ORDER BY list_sum(list_transform(list_zip(c.qc, s.qg),
                                     x -> x[1] * x[2])) DESC, s.grp
               ) AS rn
        FROM cents c CROSS JOIN sup s
    ) WHERE rn = 1
),
vprobe2 AS (
    SELECT vec_id, qv, g2 FROM (
        SELECT v.vec_id, v.qv, t.g2,
               ROW_NUMBER() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_sum(list_transform(list_zip(v.qv, t.qg2),
                                     x -> x[1] * x[2])) DESC, t.g2
               ) AS rn
        FROM q v CROSS JOIN sup2 t
    ) WHERE rn <= {_H3_SPROBES2}
),
vprobe AS (
    SELECT vec_id, qv, grp FROM (
        SELECT p.vec_id, p.qv, m.grp,
               ROW_NUMBER() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY list_sum(list_transform(list_zip(p.qv, m.qg),
                                     x -> x[1] * x[2])) DESC, m.grp
               ) AS rn
        FROM vprobe2 p JOIN s2mem m USING (g2)
    ) WHERE rn <= {_H3_SPROBES}
),
assigned AS MATERIALIZED (
    SELECT vec_id, cid FROM (
        SELECT p.vec_id, m.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY list_sum(list_transform(list_zip(p.qv, m.qc),
                                     x -> x[1] * x[2])) DESC, m.cid
               ) AS rn
        FROM vprobe p JOIN cmem m USING (grp)
    ) WHERE rn <= {_GIVF_PROBES}
),
cand AS (
    SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
    FROM assigned a JOIN assigned b
      ON a.cid = b.cid AND a.vec_id <> b.vec_id
),
scored AS (
    SELECT c.src, c.dst,
           CAST(list_sum(list_transform(list_zip(qa.qv, qb.qv),
                    x -> x[1] * x[2])) AS BIGINT) AS dot
    FROM cand c
    JOIN q qa ON qa.vec_id = c.src
    JOIN q qb ON qb.vec_id = c.dst
)"""


@register(
    "knn_graph_ivf_hier3",
    survey="NS-sim(corpus k-NN graph over DEPTH-3 hierarchical IVF assignment — vectors descend branch seeds → supers → cells, per-vector coarse work ~|sup2| + sprobes2·s2 + sprobes·s instead of C; the 1000x branch-factor re-strike built behind the shared _ivf_assign seam),J1,W2",
    oracle=_HIER3_EDGE_CTES + f"""
SELECT src, dst, dot FROM (
    SELECT src, dst, dot,
           ROW_NUMBER() OVER (
               PARTITION BY src ORDER BY dot DESC, dst) AS rk
    FROM scored
) WHERE rk <= {_GIVF_K}
""",
)
def knn_graph_ivf_hier3(spark, sf_dir):
    """The hierarchical-IVF re-strike (noted-not-built since round 9)
    BUILT, behind the same `_ivf_assign` seam every IVF consumer rides:
    a third assignment level. Two-level assignment made the n×C coarse
    ranking n×(C/s + sprobes·s); at 1000× corpora the super table
    itself grows past what each vector should rank, so depth-3 seeds
    branch-of-branch vectors (every stride·s·s2-th), attaches each
    super to its top-dot depth-2 branch (super-side work only,
    broadcast), and a vector descends: rank |sup2| branch seeds, then
    the probed branches' supers, then those supers' cells — per-vector
    coarse work ~|sup2| + sprobes2·(S/|sup2|) + sprobes·(C/S), the √
    move applied once more. Probing ALL depth-2 branches degenerates
    to the two-level assignment EXACTLY (pytest-pinned on a synthetic
    multi-branch corpus), so every downstream stage is shared.

    The entry's strides (cents every {st}, supers every {s1}, branches
    every {s12}) make the hierarchy REAL at the driver's correctness
    scale — sf0.01 has 10 cents / 5 supers / 3 branches, so the
    descent genuinely prunes (a vector ranks 3 branch seeds + ≤2·2
    supers + ≤2·~2 cells instead of all 10 cents) rather than passing
    through a degenerate single branch.

    Scale shape: all three coarse tables are centroid-sized and
    broadcast; every per-vector fan-out is pruned map-side by a
    Partial WindowGroupLimit before its exchange (three in the
    descent, one per level); the candidate/score/rank tail is the
    knn_graph_ivf plan unchanged. At 100 TB the config re-strike is
    now a stride triple, not an architecture change."""
    return knn_graph_ivf_edges(
        spark, sf_dir, stride=_H3_STRIDE, super_fac=_H3_SFAC,
        sprobes=_H3_SPROBES, super2_fac=_H3_S2FAC, sprobes2=_H3_SPROBES2,
    )


knn_graph_ivf_hier3.__doc__ = knn_graph_ivf_hier3.__doc__.format(
    st=_H3_STRIDE, s1=_H3_STRIDE * _H3_SFAC,
    s12=_H3_STRIDE * _H3_SFAC * _H3_S2FAC,
)


_PCA_D = 64           # embedding dimensionality (TESTDATA.md)
_PCA_SCALE = 1 << 20  # fixed-point scale of the iterated direction vector
_PCA_SQUARINGS = 6    # Gram repeated-squaring depth: iterate with G^(2^6)
_PCA_RESCALE = 1 << 27  # entry cap after each squaring (64·(2·cap)² < 2⁶³)
_PCA_ROUNDS = 4       # fixed synchronous rounds (the pagerank determinism pattern)


def _pca_oracle() -> str:
    sq, prev_m = [], "cells"
    for s in range(1, _PCA_SQUARINGS + 1):
        sq.append(f""",
p{s} AS MATERIALIZED (SELECT a.i, b.j, SUM(CAST(a.g AS HUGEINT) * b.g) AS g
         FROM {prev_m} a JOIN {prev_m} b ON a.j = b.i GROUP BY a.i, b.j),
d{s} AS (SELECT GREATEST(1, MAX(abs(g)) // {_PCA_RESCALE}) AS dv FROM p{s}),
b{s} AS MATERIALIZED (SELECT i, j, CASE WHEN g < 0 THEN -((-g)//dv) ELSE g//dv END AS g
         FROM p{s}, d{s})""")
        prev_m = f"b{s}"
    steps, prev = [], "v0"
    for r in range(1, _PCA_ROUNDS + 1):
        steps.append(f""",
u{r} AS (SELECT c.i, SUM(c.g * {prev}.v) AS u
         FROM {prev_m} c JOIN {prev} ON {prev}.i = c.j GROUP BY c.i),
m{r} AS (SELECT MAX(abs(u)) AS m FROM u{r}),
v{r} AS (SELECT i, CASE WHEN u < 0 THEN -((-u)*{_PCA_SCALE}//m)
                        ELSE (u*{_PCA_SCALE})//m END AS v FROM u{r}, m{r})""")
        prev = f"v{r}"
    return f"""
WITH q AS MATERIALIZED (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE)*64) AS BIGINT)) AS q
    FROM embeddings
),
cells AS MATERIALIZED (
    SELECT CAST(i.i AS INT) AS i, CAST(j.j AS INT) AS j,
           SUM(q[CAST(i.i AS INT)+1]*q[CAST(j.j AS INT)+1]) AS g
    FROM q, range(0,{_PCA_D}) i(i), range(0,{_PCA_D}) j(j)
    GROUP BY 1, 2
),
v0 AS (
    SELECT c2.i,
           CASE WHEN c2.i = (SELECT i FROM cells WHERE i = j
                             ORDER BY g DESC, i LIMIT 1)
                THEN CAST({_PCA_SCALE} AS BIGINT) ELSE 0 END AS v
    FROM (SELECT DISTINCT i FROM cells) c2
){"".join(sq)}{"".join(steps)}
SELECT q.vec_id, CAST(SUM(q.q[fv.i+1] * fv.v) AS BIGINT) AS proj
FROM q, {prev} fv
GROUP BY q.vec_id
"""


@register(
    "pca_power_projection",
    survey="NS-sim(distributed PCA: one-pass integer Gram matrix via Arrow-batched partial aggregation + fixed-round integer power iteration + broadcast projection),A3-A6,J1",
    oracle=_pca_oracle(),
)
def pca_power_projection(spark, sf_dir):
    """Top-principal-direction projection of the embedding corpus — the
    dimensionality-reduction / drift-monitoring primitive (what a
    curation stack uses for whitening, for 1-D visual sorts, and as the
    first component of an embedding-health dashboard). The whole
    pipeline is EXACT integer arithmetic end-to-end: vectors quantize to
    q = floor(64·x) (the knn-graph metric), the d×d second-moment Gram
    G = Σ qqᵀ accumulates in int64, and {r} synchronous power-iteration
    rounds run v ← normalize(B·v) with a sign-split fixed-point
    normalization (v_i' = sign·(|v_i|·2²⁰ div max|v|)) — floor-division
    on MAGNITUDES only, so Spark's truncating `div` and DuckDB's `//`
    agree, and G is PSD so the iterated direction never sign-flips.

    The iteration matrix B = G^(2^{s}) comes from {s} REPEATED SQUARINGS
    of G (each followed by an exact rescale: divide every entry,
    sign-split, by max(1, max|entry| div 2²⁷), keeping all products in
    int64) — squaring powers the eigenvalue RATIOS, so the {r} rounds
    apply G effectively 2^{s}·{r} = {k} times. This matters because a
    clustered corpus has a nearly flat top spectrum (the 10-cluster
    fixture measures λ₂/λ₁ ≈ 0.96-0.99, where plain 4-round iteration
    provably stalls — measured cos ≈ 0.18 against the true component);
    with squaring the projection aligns to |cos| > 0.9999 at every test
    SF (pytest-pinned against numpy's eigensolver). The oracle replays
    every squaring and round as unrolled CTEs and must match the
    projection hash bit-for-bit (DuckDB's post-SUM HUGEINT promotion
    keeps the ·2²⁰ normalization products exact; Spark's side is
    arbitrary-precision driver Python).

    Scale shape: the Gram is the ONLY corpus-scale stage and it is the
    textbook treeAggregate — `mapInPandas` emits one flattened d² int64
    partial per Arrow batch (numpy `M.T @ M`, exact in int64 at any
    batch size since |q_i| ≤ 64), so the driver collects |batches| rows
    of d² cells, never per-vector data; Python big-ints make the final
    fold, the {s} squarings (d³ multiplies each), and the {r} rounds
    (d² = {d2} multiplies each) overflow-proof — microseconds of driver
    work, corpus-independent. Python is justified here because
    element-wise summing a {d2}-cell array has no built-in aggregate —
    the JVM alternative is a {d2}× posexplode per row. The projection
    broadcasts the final direction as a literal array into one map-only
    zip_with pass — no shuffle at all in the returned plan. Overflow
    bounds at 100 TB, stated per stage: Gram entries grow ∝ n (≤ 4096·n),
    so the int64 constraint binds on the numpy PER-PARTITION partial
    (rows/partition ≳ 2⁵⁰ — unreachable, partitions are bounded), never
    the driver fold (Python big-int, exact at any n); the oracle's first
    squaring multiplies two Gram entries — (4096·n)², explicitly
    HUGEINT (DuckDB also promotes SUM(BIGINT) to HUGEINT, but the cast
    makes exactness independent of that), exact through
    64·(4096·n)² < 2¹²⁷ ⇒ n ≲ 3·10¹⁵ vectors; past that, pre-shift G
    right by a power of two (magnitude-split, a config) — the iteration
    is scale-invariant.
    """
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    d, scale = _PCA_D, _PCA_SCALE
    q = _quantized(spark, sf_dir)

    def gram_partial(batches):
        import numpy as np
        import pandas as pd

        G = np.zeros((d, d), dtype=np.int64)
        for pdf in batches:
            m = np.array(pdf["qv"].tolist(), dtype=np.int64)
            if len(m):
                G += m.T @ m
        yield pd.DataFrame({"g": [G.flatten().tolist()]})

    parts = q.select("qv").mapInPandas(
        gram_partial, StructType([StructField("g", ArrayType(LongType()))])
    ).collect()  # |batches| rows of d² cells — corpus-independent size
    gram = [0] * (d * d)
    for row in parts:
        for i, val in enumerate(row["g"]):
            gram[i] += val
    k = -max((gram[i * d + i], -i) for i in range(d))[1]
    b = gram
    for _ in range(_PCA_SQUARINGS):
        p = [
            sum(b[i * d + t] * b[t * d + j] for t in range(d))
            for i in range(d)
            for j in range(d)
        ]
        dv = max(1, max(abs(x) for x in p) // _PCA_RESCALE)
        b = [-((-x) // dv) if x < 0 else x // dv for x in p]
    v = [scale if i == k else 0 for i in range(d)]
    for _ in range(_PCA_ROUNDS):
        u = [sum(b[i * d + j] * v[j] for j in range(d)) for i in range(d)]
        m = max(abs(x) for x in u)
        v = [-((-x) * scale // m) if x < 0 else (x * scale) // m for x in u]
    direction = F.array(*[F.lit(int(x)).cast("bigint") for x in v])
    return q.select("vec_id", int_dot("qv", direction).alias("proj"))


pca_power_projection.__doc__ = pca_power_projection.__doc__.format(
        r=_PCA_ROUNDS,
        d2=_PCA_D * _PCA_D,
        s=_PCA_SQUARINGS,
        k=(1 << _PCA_SQUARINGS) * _PCA_ROUNDS,
    )


def _lpa_ivf_oracle() -> str:
    return (
        _GIVF_EDGE_CTES
        + """,
ue AS (
    SELECT src, dst FROM e
    UNION
    SELECT dst AS src, src AS dst FROM e
),
l0 AS (SELECT DISTINCT src AS v, CAST(src AS BIGINT) AS lab FROM ue)"""
        + _lpa_round_ctes()
        + f"\nSELECT v AS vec_id, lab AS community FROM l{_LPA_ROUNDS}\n"
    )


@register(
    "community_lpa_ivf",
    survey="NS-sim(CORPUS-GRAIN community detection: the panel LPA's documented scale path made real — mode-vote label propagation over the IVF cell-join k-NN edges, labels equi-joined, never broadcast),W1-W3,J1,A3-A6",
    oracle=_lpa_ivf_oracle(),
)
def community_lpa_ivf(spark, sf_dir):
    """Corpus-grain community detection — label propagation over the
    IVF-generated k-NN graph. `label_propagation_knn`'s docstring
    promises that "a billion-node graph ... swaps the edge source to
    knn_graph_ivf's cell-join candidates at corpus grain (the rounds
    unchanged)"; THIS query is that promise as a registered,
    oracle-checked operator rather than prose: same {r} synchronous
    mode-vote rounds (`max(struct(c, -lab))` arg-max aggregates), same
    symmetrize-once edge treatment, but the edges come from
    `knn_graph_ivf_edges` (two-level probe-2 assignment, cell equi-join
    candidates, exact integer-dot top-{k}) and cover EVERY corpus vector
    with at least one graph neighbor — not a 1-in-25 panel.

    Scale shape: edge generation inherits knn_graph_ivf's measured
    posture (no all-pairs stage; α≈0.5 on ×10 growth, BASELINE.md
    round-9b). The rounds differ from the panel variant in ONE
    deliberate way: the label vector is corpus-sized, so it is NOT
    broadcast — each round's vote join is a plain equi-join on the node
    key (`broadcast_labels=False`), which AQE plans shuffle-hash and a
    production deployment bucket/co-partitions with the edge list so
    rounds reuse one partitioning. Per-round cost stays
    O(rounds × |E|) map-side-combined aggregates; |E| ≤ k·n by the
    top-{k} prune. The oracle replays edge generation AND all {r}
    rounds as one CTE chain.
    """
    edges = knn_graph_ivf_edges(spark, sf_dir, super_fac=_GIVF_SFAC)
    return _lpa_over_edges(edges, broadcast_labels=False)


community_lpa_ivf.__doc__ = community_lpa_ivf.__doc__.format(r=_LPA_ROUNDS, k=_GIVF_K)


_HARM_HOPS = 3  # bounded-hop harmonic centrality (unbounded = APSP)


def _harmonic_oracle(edge_head: str = _KNN_EDGE_CTES) -> str:
    """Unrolled min-plus expansion over any edge head ending in CTE ``e``
    with (src, dst, ...) — shared by the panel and corpus-grain (IVF)
    harmonic-centrality oracles."""
    head = (
        edge_head
        + """,
ue AS MATERIALIZED (
    SELECT src, dst FROM e
    UNION
    SELECT dst AS src, src AS dst FROM e
),
d1 AS (SELECT src, dst, 1 AS d FROM ue)"""
    )
    steps = []
    for h in range(2, _HARM_HOPS + 1):
        steps.append(f""",
n{h} AS (
    SELECT a.src, b.dst, {h} AS d
    FROM d{h - 1} a JOIN ue b ON a.dst = b.src
    WHERE a.src <> b.dst
),
d{h} AS MATERIALIZED (
    SELECT src, dst, MIN(d) AS d
    FROM (SELECT * FROM d{h - 1} UNION ALL SELECT * FROM n{h})
    GROUP BY src, dst
)""")
    return (
        head
        + "".join(steps)
        + f"""
SELECT src AS vec_id,
       CAST(SUM(6 // d) AS BIGINT) AS harmonic_x6,
       CAST(COUNT(*) AS BIGINT) AS n_reached
FROM d{_HARM_HOPS} GROUP BY src
"""
    )


@register(
    "harmonic_centrality_knn",
    survey="NS-sim(distance-based centrality: bounded-hop harmonic centrality over the symmetrized k-NN graph — iterative min-plus expansion, exact rational Σ 1/d as Σ 6 div d),W1-W3,J1,A3-A6",
    oracle=_harmonic_oracle(),
)
def harmonic_centrality_knn(spark, sf_dir):
    """Bounded-hop harmonic centrality — the DISTANCE-based member of
    the panel graph family (PageRank measures flow, triangles/k-core
    measure density, LPA measures community; harmonic measures REACH:
    Σ 1/dist(v, u) over u within {h} hops — the standard centrality for
    picking well-connected exemplar documents, robust on disconnected
    graphs where closeness centrality degenerates). Exact integers
    throughout: with hops ≤ {h}, 1/d scales by lcm(1..{h}) = 6 to
    6 div d ∈ {{6, 3, 2}} — no rationals in the plan, and the oracle
    replays each expansion as unrolled (join, min-aggregate) CTE pairs.
    Unbounded harmonic centrality is all-pairs-shortest-paths;
    bounded-hop is the standard large-graph restriction, stated in the
    output contract rather than hidden.

    Scale shape: {h} rounds of iterative min-plus expansion — each
    round ONE equi-join of the current ≤{h}-hop pair set against the
    symmetrized edge list (shared pin, the LPA treatment)
    followed by ONE map-side-combined (src, dst) min aggregate; the
    final rollup is one aggregate over the pair set. Pair-set size is
    bounded by |V|·(2k)^{h} (k-NN out-degree, not the corpus) — the
    frontier cannot explode on a bounded-degree graph. Edge generation
    is the brute panel generator (the family's measured α≈2 term); at
    corpus grain the generator swaps to knn_graph_ivf's cell-join
    candidates exactly as community_lpa_ivf demonstrates
    (harmonic_centrality_ivf below is that swap).
    """
    _, edges = _panel_knn_edges(spark, sf_dir)
    return _harmonic_over_edges(edges)


harmonic_centrality_knn.__doc__ = harmonic_centrality_knn.__doc__.format(h=_HARM_HOPS)


def _harmonic_over_edges(edges):
    """Shared bounded-hop machinery: symmetrize (src, dst, ...) edges
    once, run _HARM_HOPS-1 min-plus expansion rounds, return (vec_id,
    harmonic_x6, n_reached). Consumed by the panel and corpus-grain
    (IVF) harmonic centrality."""
    ue = pin(
        edges.select("src", "dst")
        .unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct(),
    )
    cur = ue.withColumn("d", F.lit(1))
    for h in range(2, _HARM_HOPS + 1):
        nxt = (
            cur.alias("a")
            .join(ue.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(
                F.col("a.src").alias("src"),
                F.col("b.dst").alias("dst"),
                F.lit(h).alias("d"),
            )
            .filter(F.col("src") != F.col("dst"))
        )
        cur = (
            cur.unionAll(nxt)
            .groupBy("src", "dst")
            .agg(F.min("d").alias("d"))
        )
        # NOT checkpointed per round, deliberately: cur feeds the next
        # round twice (expansion join + min-union), but materializing the
        # |V|·(2k)^h-row pair set costs MORE than re-deriving the cheap
        # prior-round aggregate twice — measured 3.4 s → 8.2 s at sf0.1
        # when round-2 was checkpointed (the opposite trade from the
        # k-core peel, whose rounds re-derive an expensive shrinking
        # JOIN chain rather than one wide aggregate).
    return cur.groupBy(F.col("src").alias("vec_id")).agg(
        F.sum(F.expr("6 div d")).cast("bigint").alias("harmonic_x6"),
        F.count(F.lit(1)).cast("bigint").alias("n_reached"),
    )


# ---------------------------------------------------------------------------
# Corpus-grain graph centrality — the panel family's measured scale-killer
# (_panel_knn_edges' all-pairs generator, α = 2.00 at fixed panel fraction)
# retired for the remaining centrality queries exactly as community_lpa_ivf
# retired it for LPA: same iterations, edges swapped to knn_graph_ivf's
# two-level IVF cell-join candidates (α ≈ 0.5 distinct-content, round-9b).


def _pagerank_ivf_oracle() -> str:
    s = _PR_SCALE
    head = (
        _GIVF_EDGE_CTES
        + f""",
od AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS od FROM e GROUP BY src),
nodes AS MATERIALIZED (
    SELECT DISTINCT n AS v
    FROM (SELECT src AS n FROM e UNION ALL SELECT dst AS n FROM e)
),
r0 AS (SELECT v, CAST({s} AS BIGINT) AS r FROM nodes)"""
    )
    steps = []
    for it in range(_PR_ITERS):
        steps.append(f""",
r{it + 1} AS (
    SELECT nodes.v,
           CAST((3 * {s}) // 20
                + (17 * COALESCE(m.m, 0)) // 20 AS BIGINT) AS r
    FROM nodes LEFT JOIN (
        SELECT e.dst AS v, CAST(SUM(r{it}.r // od.od) AS BIGINT) AS m
        FROM e JOIN od ON od.src = e.src JOIN r{it} ON r{it}.v = e.src
        GROUP BY e.dst
    ) m USING (v)
)""")
    return (
        head
        + "".join(steps)
        + f"\nSELECT v AS vec_id, r AS rank_scaled FROM r{_PR_ITERS}\n"
    )


@register(
    "pagerank_ivf_centrality",
    survey="NS-sim(CORPUS-GRAIN iterative centrality: fixed-point PageRank over the IVF cell-join k-NN graph — out-degree-normalized contributions, ranks equi-joined, never broadcast),W1-W3,J1,A3-A6",
    oracle=_pagerank_ivf_oracle(),
)
def pagerank_ivf_centrality(spark, sf_dir):
    """Corpus-grain PageRank — the panel query's docstring promises that
    "at 100 TB the drop-in edge source is the IVF/LSH candidate-pair
    stage ... the iteration itself never changes"; THIS query is that
    promise as a registered, oracle-checked operator: same {r} unrolled
    fixed-point rounds (rank unit 2^20, d = 0.85 = 17/20, floor
    divisions), but the edges come from `knn_graph_ivf_edges` (two-level
    probe-2 assignment, cell equi-join candidates, exact integer-dot
    top-{k}) and cover every corpus vector with a graph neighbor — not a
    1-in-{m} panel. One deliberate semantic difference from the panel
    variant: IVF out-degree is ≤{k}, not exactly {k} (sparse cells emit
    fewer neighbors), so each node's contribution divides by its ACTUAL
    out-degree (`r div od`) — the textbook normalization the panel
    shortcut (constant {k}) special-cases.

    Scale shape: edge generation inherits knn_graph_ivf's measured
    posture (no all-pairs stage; α ≈ 0.5 on ×10 distinct-content growth,
    BASELINE.md round-9b), replacing the panel family's measured α = 2.00
    generator. The rank vector is corpus-sized, so it is NOT broadcast —
    each round's contribution join is a plain equi-join on the node key
    (the community_lpa_ivf regime; a production deployment buckets edges
    and ranks on the same key so all {r} rounds reuse one partitioning).
    Out-degrees are joined once onto the checkpointed edge list; each
    round is ONE map-side-combined dst-aggregate plus one left join back
    to the node list — O(rounds × |E|) with |E| ≤ {k}·n, no lineage
    growth across rounds.
    """
    edges = knn_graph_ivf_edges(spark, sf_dir, super_fac=_GIVF_SFAC)
    return _pagerank_over_edges(edges)


pagerank_ivf_centrality.__doc__ = pagerank_ivf_centrality.__doc__.format(r=_PR_ITERS, k=_GIVF_K, m=_PR_MOD)


def _pagerank_over_edges(edges):
    """Shared corpus-regime power-iteration machinery: join actual
    out-degrees onto the checkpointed (src, dst, ...) edge list once, run
    _PR_ITERS fixed-point rounds with rank-vector equi-joins (never
    broadcast), return (vec_id, rank_scaled)."""
    od = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("od")
    )
    ee = pin(edges.select("src", "dst").join(od, "src"))
    nodes = pin(
        ee.select(F.col("src").alias("v"))
        .unionAll(ee.select(F.col("dst").alias("v")))
        .distinct(),  # rebuilt lazily 2×/round otherwise
    )
    r = nodes.select("v", F.lit(_PR_SCALE).cast("bigint").alias("r"))
    for _ in range(_PR_ITERS):
        contrib = (
            ee.join(r, ee.src == r.v)
            .select("dst", F.expr("r div od").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").cast("bigint").alias("m"))
        )
        r = (
            nodes.join(contrib, nodes.v == contrib.dst, "left")
            .select(
                "v",
                (
                    F.lit((3 * _PR_SCALE) // 20)
                    + F.expr("17 * coalesce(m, 0) div 20")
                ).cast("bigint").alias("r"),
            )
        )
    return r.select(F.col("v").alias("vec_id"), F.col("r").alias("rank_scaled"))


@register(
    "harmonic_centrality_ivf",
    survey="NS-sim(CORPUS-GRAIN distance centrality: bounded-hop harmonic centrality over the IVF cell-join k-NN graph — iterative min-plus expansion, exact rational Σ 1/d as Σ 6 div d),W1-W3,J1,A3-A6",
    oracle=_harmonic_oracle(_GIVF_EDGE_CTES),
)
def harmonic_centrality_ivf(spark, sf_dir):
    """Corpus-grain harmonic centrality: `harmonic_centrality_knn`'s
    {h}-hop min-plus expansion (exact integers — 1/d scaled by
    lcm(1..{h}) = 6) run over `knn_graph_ivf_edges`' two-level IVF
    cell-join graph instead of the brute panel generator. Expansion
    rounds, symmetrize-once edge treatment, and the Σ 6 div d rollup are
    the SHARED `_harmonic_over_edges` machinery — the only change is the
    edge source, which is exactly the swap the panel docstring promises.

    Scale shape: candidate generation inherits knn_graph_ivf's measured
    α ≈ 0.5 posture (no all-pairs stage) in place of the panel family's
    α = 2.00 term; each expansion round is one equi-join of the current
    pair set against the checkpointed symmetrized edges plus one
    map-side-combined (src, dst) min-aggregate, with the pair set
    bounded by |V|·(2·{k})^{h} on this bounded-out-degree graph. The
    oracle replays edge generation and every expansion round as one
    CTE chain.
    """
    edges = knn_graph_ivf_edges(spark, sf_dir, super_fac=_GIVF_SFAC)
    return _harmonic_over_edges(edges)


harmonic_centrality_ivf.__doc__ = harmonic_centrality_ivf.__doc__.format(h=_HARM_HOPS, k=_GIVF_K)


@register(
    "kcore_decompose_ivf",
    survey=f"NS-sim(CORPUS-GRAIN {_KCORE_K}-core peel over the IVF cell-join k-NN graph: bounded-round degree peeling, dense-region extraction),J1,A3",
    oracle=_kcore_oracle(_GIVF_EDGE_CTES),
)
def kcore_decompose_ivf(spark, sf_dir):
    """Corpus-grain {k}-core extraction: `kcore_decompose_knn`'s
    {r}-round degree peel run over `knn_graph_ivf_edges`' two-level IVF
    cell-join graph — the "at corpus scale the panel generator swaps for
    the candidate stage, peeling unchanged" promise as a registered,
    oracle-checked operator. Undirect-once, peel rounds, and the
    (deg0, in_core, core_deg) contract are the SHARED `_kcore_over_edges`
    machinery; both engines run the same FIXED {r} rounds, so the output
    is the round-{r} survivor set by construction (the panel variant's
    fixpoint pin is a per-corpus property, asserted there, not here —
    bounded-round peeling is the stated contract, the standard
    large-graph restriction).

    Scale shape: edge generation inherits knn_graph_ivf's measured
    α ≈ 0.5 posture, replacing the panel family's α = 2.00 generator;
    each peel round is a linear degree aggregate plus two equi-joins of
    the (shrinking, checkpointed-once) edge list against the keep set —
    never pairwise.
    """
    edges = knn_graph_ivf_edges(spark, sf_dir, super_fac=_GIVF_SFAC)
    return _kcore_over_edges(edges)


kcore_decompose_ivf.__doc__ = kcore_decompose_ivf.__doc__.format(k=_KCORE_K, r=_KCORE_ROUNDS)


@register(
    "triangle_count_ivf",
    survey="NS-sim(CORPUS-GRAIN clustering structure: per-node triangle count + clustering coefficient over the IVF cell-join k-NN graph, degree-ordered orientation, all equi-joins),J1,A3-A6",
    oracle=_triangle_oracle(_GIVF_EDGE_CTES),
)
def triangle_count_ivf(spark, sf_dir):
    """Corpus-grain triangle counting — the LAST panel-only graph query's
    IVF twin (components/LPA, PageRank, harmonic, and k-core already have
    theirs): `triangle_count_knn`'s degree-ordered orientation run over
    `knn_graph_ivf_edges`' two-level IVF cell-join graph. Symmetrize,
    orientation, wedge enumeration, and the 2t/d(d−1) clustering rollup
    are the SHARED `_triangles_over_edges` machinery, with the two
    corpus-grain adjustments the panel docstring prescribes: the degree
    table is corpus-sized, so the orientation lookups are plain
    equi-joins (never broadcast — the pagerank_ivf rank-vector rule),
    and the undirected + oriented edge lists are eagerly checkpointed so
    the IVF candidate chain runs ONCE, not once per wedge arm.

    Scale shape: edge generation inherits knn_graph_ivf's measured
    α ≈ 0.5 posture (two-level broadcast assignment, cell equi-join
    candidates — BASELINE.md round-9b), replacing the panel family's
    α = 2.00 generator; downstream every stage is an equi-join or a
    map-side-combined aggregate, and the degree-ordered orientation
    bounds wedge fan-out by Σ out-deg² ≤ O(m^1.5) with out-degree
    already ≤ 2·{k} on this bounded-degree graph, so the wedge join
    cannot explode on hubs. The oracle replays edge generation,
    orientation, and the closing join as one MATERIALIZED CTE chain.
    """
    edges = knn_graph_ivf_edges(spark, sf_dir, super_fac=_GIVF_SFAC)
    return _triangles_over_edges(edges, broadcast_deg=False, checkpoint=True)


triangle_count_ivf.__doc__ = triangle_count_ivf.__doc__.format(k=_GIVF_K)


_DECON_MOD = 100   # benchmark panel: every vec_id % 100 == 0 embedding
_DECON_T = 900     # contamination bar on the 64x-quantized integer dot


@register(
    "decontaminate_semantic_ivf",
    survey="NS-dedup(SEMANTIC benchmark decontamination: corpus vectors too close to any held-out benchmark embedding, via shared IVF cells — bucketed panel-to-corpus screen, never all-pairs),J1,W2,P3",
    oracle=_GIVF_CAND_CTES + f""",
bench AS (SELECT vec_id, cid FROM assigned WHERE vec_id % {_DECON_MOD} = 0),
corp AS (SELECT vec_id, cid FROM assigned WHERE vec_id % {_DECON_MOD} <> 0),
pairs AS (
    SELECT DISTINCT c.vec_id, b.vec_id AS bench_id
    FROM corp c JOIN bench b ON c.cid = b.cid
),
pd AS (
    SELECT p.vec_id, p.bench_id,
           CAST(list_sum(list_transform(list_zip(qa.qv, qb.qv),
                x -> x[1] * x[2])) AS BIGINT) AS dot
    FROM pairs p
    JOIN q qa ON qa.vec_id = p.vec_id
    JOIN q qb ON qb.vec_id = p.bench_id
)
SELECT vec_id, bench_id, dot FROM (
    SELECT vec_id, bench_id, dot,
           ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY dot DESC, bench_id) AS rn
    FROM pd
) WHERE rn = 1 AND dot >= {_DECON_T}
""",
)
def decontaminate_semantic_ivf(spark, sf_dir):
    """Semantic benchmark decontamination — the embedding-grain twin of
    `decontaminate_ngram_overlap`: n-gram overlap only catches verbatim
    test-set leakage, but a paraphrased benchmark item still contaminates
    an eval, so modern pipelines ALSO screen training vectors against the
    held-out benchmark in embedding space. Benchmark = every
    vec_id % {m} == 0 embedding (the held-out panel); a corpus vector is
    flagged when its best benchmark neighbor's exact 64×-quantized
    integer dot ≥ {t} (cos ≈ {t}/4096 on these unit vectors). Output is
    the contamination report (vec_id, bench_id, dot) — the keep-list is
    its anti-join, exactly how the n-gram variant is consumed.

    Candidates come from SHARED IVF CELLS, not an all-pairs panel×corpus
    join: both sides ride the shared `_ivf_assign` two-level coarse
    assignment (the knn_graph_ivf chain through ``assigned``), pairs
    form by a cell-id equi-join of the corpus side against the
    panel-side cell map, the exact dot re-ranks candidates through a
    per-vector top-1 (Partial WindowGroupLimit), and the bar applies
    after the top-1 (best < bar ⇒ no weaker pair can pass it).

    Scale shape: inherits knn_graph_ivf's measured α ≈ 0.5 posture —
    assignment is two-level broadcast fan-out pruned map-side; the
    screen join keys on cid with the (typically tiny) benchmark side
    broadcastable; verify joins are id-equi-joins. Recall follows the
    IVF probe trade-off (a paraphrase landing outside the anchor's
    probed cells is missed — raise probes/stride for coverage), the
    same honest caveat hard_negative_mining documents.
    """
    from pyspark.sql import Window

    q, assigned = _ivf_assign(spark, sf_dir, super_fac=_GIVF_SFAC)
    bench = assigned.filter(F.col("vec_id") % _DECON_MOD == 0).select(
        F.col("vec_id").alias("bench_id"), "cid"
    )
    corp = assigned.filter(F.col("vec_id") % _DECON_MOD != 0)
    pairs = corp.join(bench, "cid").select("vec_id", "bench_id").distinct()
    pdot = int_dot("qa", "qb")
    scored = (
        pairs.join(q.select(F.col("vec_id"), F.col("qv").alias("qa")),
                   "vec_id")
        .join(q.select(F.col("vec_id").alias("bench_id"),
                       F.col("qv").alias("qb")), "bench_id")
        .select("vec_id", "bench_id", pdot.alias("dot"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("dot"), F.asc("bench_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("dot") >= _DECON_T))
        .select("vec_id", "bench_id", "dot")
    )


decontaminate_semantic_ivf.__doc__ = decontaminate_semantic_ivf.__doc__.format(
    m=_DECON_MOD, t=_DECON_T
)


@register(
    "ivf_cell_stats",
    survey="NS-sim(ANN index health: per-cell population + global balance/skew of the IVF coarse assignment — the index twin of key_skew_audit),A3-A6,J1",
    oracle=_GIVF_CAND_CTES + """,
cells AS (
    SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_assigned
    FROM assigned GROUP BY cid
),
tot AS (
    SELECT CAST(SUM(n_assigned) AS BIGINT) AS total,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(MAX(n_assigned) AS BIGINT) AS max_cell
    FROM cells
)
SELECT c.cid, c.n_assigned,
       CAST(c.n_assigned * 1000 // t.total AS BIGINT) AS share_milli,
       t.n_cells, t.max_cell,
       CAST(t.max_cell * t.n_cells * 1000 // t.total AS BIGINT) AS skew_x1000
FROM cells c CROSS JOIN tot t
""",
)
def ivf_cell_stats(spark, sf_dir):
    """ANN-index observability — the query an embedding-platform team
    runs before trusting the IVF index: per-cell assigned population
    plus the global balance numbers that predict query cost and skew
    risk (`skew_x1000` = max_cell·n_cells·1000 div total — 1000 means
    perfectly balanced; the key_skew_audit statistic applied to the
    index itself). A hot cell is simultaneously a recall smell (too-
    coarse quantizer region) and a latency smell (the cell self-join
    pays |cell|² — the knn_graph_ivf docstring's duplicate-flood
    caveat made a monitored number). Rides the SHARED `_ivf_assign`
    two-level assignment, so the stats describe exactly the cell map
    every IVF consumer (graph family, decontamination, hard negatives)
    actually joins on.

    Scale shape: one map-side-combined count over the (vec_id, cid)
    cell map → |cells| rows; the global rollup is a 1-row aggregate
    broadcast back across the per-cell rows (the agg_summary 1-row
    cross pattern). Integer shares (·1000 div total) keep the output
    hash-exact."""
    _, assigned = _ivf_assign(spark, sf_dir, super_fac=_GIVF_SFAC)
    cells = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assigned")
    )
    tot = cells.agg(
        F.sum("n_assigned").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.max("n_assigned").cast("bigint").alias("max_cell"),
    )
    return (
        cells.join(F.broadcast(tot))
        .select(
            "cid", "n_assigned",
            F.expr("n_assigned * 1000 div total").cast("bigint")
            .alias("share_milli"),
            "n_cells", "max_cell",
            F.expr("max_cell * n_cells * 1000 div total").cast("bigint")
            .alias("skew_x1000"),
        )
    )


_SPLIT_CAP = 100  # population bound above which an IVF cell is re-seeded

# the hot-cell split CTE chain (ends in ``remap`` = (vec_id, cid,
# sub_cid) with sub_cid = -1 for in-contract passthrough rows) — shared
# by ivf_cell_split (cell-grain aggregate) and knn_graph_cellsplit
# (post-split candidate generation); mirror of _cell_split_assign
_SPLIT_CTES = _GIVF_CAND_CTES + f""",
csz AS (
    SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM assigned GROUP BY cid
),
hot AS (
    SELECT cid, CAST(ceil(sqrt(n)) AS BIGINT) AS s
    FROM csz WHERE n > {_SPLIT_CAP}
),
seeds AS (
    SELECT cid, seed FROM (
        SELECT a.cid, a.vec_id AS seed, h.s,
               ROW_NUMBER() OVER (
                   PARTITION BY a.cid ORDER BY a.vec_id) AS srank
        FROM assigned a JOIN hot h USING (cid)
    ) WHERE srank <= s
),
remap AS MATERIALIZED (
    SELECT vec_id, cid, sub_cid FROM (
        SELECT a.vec_id, a.cid, s.seed AS sub_cid,
               ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id, a.cid
                   ORDER BY list_sum(list_transform(list_zip(qm.qv, qs.qv),
                                     x -> x[1] * x[2])) DESC, s.seed
               ) AS rn
        FROM assigned a
        JOIN seeds s USING (cid)
        JOIN q qm ON qm.vec_id = a.vec_id
        JOIN q qs ON qs.vec_id = s.seed
    ) WHERE rn = 1
    UNION ALL
    SELECT vec_id, cid, CAST(-1 AS BIGINT) AS sub_cid
    FROM assigned WHERE cid NOT IN (SELECT cid FROM hot)
)"""


@register(
    "ivf_cell_split",
    survey="NS-sim(ANN index maintenance: hot-cell split — re-seed an over-populated IVF cell's members against ceil(sqrt(|cell|)) sub-centroids, bounding the |cell|² candidate term),J1,W1-W3,A6",
    oracle=_SPLIT_CTES + """
SELECT cid, sub_cid, CAST(COUNT(*) AS BIGINT) AS n_members
FROM remap GROUP BY cid, sub_cid
""",
)
def ivf_cell_split(spark, sf_dir):
    """ANN-index maintenance — the remedy `ivf_cell_stats` monitors for:
    any cell whose population exceeds {cap} is RE-SEEDED against
    ceil(sqrt(|cell|)) sub-centroids (the s smallest member vec_ids,
    deterministic), and each member moves to its exact-integer-dot
    nearest sub-seed — the semdedup_two_level sqrt trick applied
    DOWNWARD, bounding the |cell|² candidate term of every cell
    self-join consumer (knn_graph_ivf's documented duplicate-flood
    caveat, now with a shipped mitigation like semdedup's exact_cap
    guard). In-contract cells pass through unsplit (sub_cid = -1).
    Output is cell-grain index health after mitigation: (cid, sub_cid,
    n_members) — the artifact a reindex job would persist as the new
    cell map.

    Scale shape: the census is a map-side-combined count (|cells|
    rows); `hot` and its seed list (Σ ceil(sqrt(|cell|)) rows) stay
    centroid-sized and BROADCAST; hot-cell members re-rank against
    only their own cell's seeds — Σ |cell|·sqrt(|cell|) integer dots,
    pruned to the argmin map-side by a Partial WindowGroupLimit — and
    the unsplit side is a broadcast anti join. No corpus self-join
    anywhere: the whole point is the candidate term AFTER one split
    round falls from Σ|cell|² toward Σ|cell|^1.5 (probe: BASELINE.md
    round-11, exact-copy adversarial corpus).
    """
    _, remap = _cell_split_assign(spark, sf_dir)
    return remap.groupBy("cid", "sub_cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )


ivf_cell_split.__doc__ = ivf_cell_split.__doc__.format(cap=_SPLIT_CAP)


def _cell_split_assign(spark, sf_dir, cap=_SPLIT_CAP, probes=1):
    """Member-grain hot-cell split over the shared `_ivf_assign` map:
    returns ``(q, remap)`` where remap = (vec_id, cid, sub_cid, home) —
    sub_cid is a chosen sub-seed for members of over-``cap`` cells and
    -1 for in-contract passthrough rows. With ``probes=1`` (default)
    every member carries exactly its nearest sub-seed (``home`` always
    true); ``probes=p`` additionally emits each hot-cell member's
    2nd..p-th nearest sub-seeds with ``home=false`` — the sibling-probe
    rows `knn_graph_cellsplit_probe` uses on the SOURCE side of its
    candidate join to recover neighbors the split scattered across
    sibling sub-cells. The plan-shape audit lives on `ivf_cell_split`
    (its cell-grain aggregate); `knn_graph_cellsplit` consumes the remap
    as its candidate key."""
    from pyspark.sql import Window

    q, assigned = _ivf_assign(spark, sf_dir, super_fac=_GIVF_SFAC)
    # referenced by the census, both remap branches, and the seed pick —
    # pin the (sample-free but 5-stage) assignment once
    a = pin(assigned, eager=False)
    cells = a.groupBy("cid").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    hot = cells.filter(F.col("n") > cap).select(
        "cid", F.ceil(F.sqrt(F.col("n"))).cast("bigint").alias("s")
    )
    ws = Window.partitionBy("cid").orderBy("vec_id")
    seeds = (
        a.join(F.broadcast(hot), "cid")
        .withColumn("srank", F.row_number().over(ws))
        .filter(F.col("srank") <= F.col("s"))
        .select("cid", F.col("vec_id").alias("seed"))
    )
    seeded = seeds.join(
        q.select(F.col("vec_id").alias("seed"), F.col("qv").alias("qs")),
        "seed",
    )
    sdot = int_dot("qv", "qs")
    wr = Window.partitionBy("vec_id", "cid").orderBy(
        F.desc("sdot"), F.asc("seed")
    )
    split = (
        a.join(F.broadcast(hot.select("cid")), "cid")
        .join(q, "vec_id")
        .join(F.broadcast(seeded), "cid")
        .select("vec_id", "cid", "seed", sdot.alias("sdot"))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= probes)
        .select(
            "vec_id", "cid", F.col("seed").alias("sub_cid"),
            (F.col("rn") == 1).alias("home"),
        )
    )
    keep = a.join(F.broadcast(hot.select("cid")), "cid", "left_anti").select(
        "vec_id", "cid", F.lit(-1).cast("bigint").alias("sub_cid"),
        F.lit(True).alias("home"),
    )
    return q, split.unionByName(keep)


@register(
    "knn_graph_cellsplit",
    survey="NS-sim(corpus k-NN graph over the POST-SPLIT cell map — the hot-cell mitigation composed into candidate generation: candidates join on (cid, sub_cid), so an adversarial hot cell contributes Σ|sub-cell|² ≈ |cell|^1.5 pairs instead of |cell|²),J1,W2",
    oracle=_SPLIT_CTES + f""",
candm AS (
    SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
    FROM remap a JOIN remap b
      ON a.cid = b.cid AND a.sub_cid = b.sub_cid AND a.vec_id <> b.vec_id
),
scoredm AS (
    SELECT c.src, c.dst,
           CAST(list_sum(list_transform(list_zip(qa.qv, qb.qv),
                    x -> x[1] * x[2])) AS BIGINT) AS dot
    FROM candm c
    JOIN q qa ON qa.vec_id = c.src
    JOIN q qb ON qb.vec_id = c.dst
)
SELECT src, dst, dot FROM (
    SELECT src, dst, dot,
           ROW_NUMBER() OVER (
               PARTITION BY src ORDER BY dot DESC, dst) AS rk
    FROM scoredm
) WHERE rk <= {_GIVF_K}
""",
)
def knn_graph_cellsplit(spark, sf_dir, cap=_SPLIT_CAP):
    """The hot-cell mitigation COMPOSED into candidate generation — proof
    the `ivf_cell_split` remedy is usable, not just observable: the
    corpus k-NN graph's candidate self-join keys on the post-split
    (cid, sub_cid) map instead of the raw cid, so an adversarial hot
    cell (exact-copy flood, quantizer collapse) contributes
    Σ|sub-cell|² ≈ |cell|·ceil(sqrt(|cell|)) candidate pairs instead of
    |cell|². The recall trade is explicit and the split's own design:
    neighbors split across sibling sub-cells are not candidates (raise
    the cap, or probe sibling sub-cells, to recover them) — in-contract
    cells pass through unsplit, where this query degenerates to
    knn_graph_ivf exactly (pytest-pinned on a no-hot-cell corpus).

    Scale shape: inherits the `ivf_cell_split` audit through the remap
    (broadcast seeds, map-side argmin, checkpointed assignment); the
    candidate join is an equi-join on the composite cell key with the
    exact-dot top-{k} ranked per source through a Partial
    WindowGroupLimit — the knn_graph_ivf plan with a narrower, split-
    bounded key. Probe: BASELINE.md round-11 (candidate term on the
    exact-copy corpus).
    """
    q, remap = _cell_split_assign(spark, sf_dir, cap=cap)
    # both sides of the candidate self-join read the remap — pin it once
    a = pin(remap, eager=False)
    cand = _cell_pairs(a, a, ["cid", "sub_cid"])
    return _top_k(_score_pairs(cand, q), _GIVF_K)


knn_graph_cellsplit.__doc__ = knn_graph_cellsplit.__doc__.format(k=_GIVF_K)


_SPLIT_PROBES = 2  # sibling-probe width: each hot-cell member also probes
                   # its 2nd-nearest sub-seed on the SOURCE side


@register(
    "knn_graph_cellsplit_probe",
    survey="NS-sim(post-split k-NN graph WITH sibling-probe recall recovery: hot-cell members probe their top-2 sub-seeds on the source side, recovering neighbors the split scattered across sibling sub-cells at ~2x the split-bounded candidate cost),J1,W2",
    oracle=_SPLIT_CTES + f""",
remapp AS MATERIALIZED (
    SELECT vec_id, cid, sub_cid FROM (
        SELECT a.vec_id, a.cid, s.seed AS sub_cid,
               ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id, a.cid
                   ORDER BY list_sum(list_transform(list_zip(qm.qv, qs.qv),
                                     x -> x[1] * x[2])) DESC, s.seed
               ) AS rn
        FROM assigned a
        JOIN seeds s USING (cid)
        JOIN q qm ON qm.vec_id = a.vec_id
        JOIN q qs ON qs.vec_id = s.seed
    ) WHERE rn <= {_SPLIT_PROBES}
    UNION ALL
    SELECT vec_id, cid, CAST(-1 AS BIGINT) AS sub_cid
    FROM assigned WHERE cid NOT IN (SELECT cid FROM hot)
),
candp AS (
    SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
    FROM remapp a JOIN remap b
      ON a.cid = b.cid AND a.sub_cid = b.sub_cid AND a.vec_id <> b.vec_id
),
scoredp AS (
    SELECT c.src, c.dst,
           CAST(list_sum(list_transform(list_zip(qa.qv, qb.qv),
                    x -> x[1] * x[2])) AS BIGINT) AS dot
    FROM candp c
    JOIN q qa ON qa.vec_id = c.src
    JOIN q qb ON qb.vec_id = c.dst
)
SELECT src, dst, dot FROM (
    SELECT src, dst, dot,
           ROW_NUMBER() OVER (
               PARTITION BY src ORDER BY dot DESC, dst) AS rk
    FROM scoredp
) WHERE rk <= {_GIVF_K}
""",
)
def knn_graph_cellsplit_probe(spark, sf_dir, cap=_SPLIT_CAP,
                              probes=_SPLIT_PROBES):
    """`knn_graph_cellsplit` with the sibling-probe recall knob SHIPPED —
    the round-11 docstring's "probe sibling sub-cells" option, measured
    instead of promised: each hot-cell member probes its top-{p}
    nearest sub-seeds on the SOURCE side of the candidate join (the
    standard IVF nprobe trick applied one level down), while the
    candidate side keeps the home (nearest-sub-seed) assignment — so a
    neighbor pair the split scattered across sibling sub-cells is
    recovered whenever either member's {p}-probe reaches the other's
    home sub-cell. Candidate cost rises by at most ×{p} over
    knn_graph_cellsplit's Σ|sub-cell|² ≈ |cell|^1.5 — still far under
    the unsplit |cell|² — and with no hot cells it degenerates to
    knn_graph_ivf exactly, like its sibling (passthrough rows carry one
    probe). Recall vs the unsplit cell join is measured on a forced-
    split distinct-content corpus in pytest and BASELINE.md round-12:
    probing recovers a strict superset of the home-only edges.

    Operating point (BASELINE.md round-13 curve, probes ∈ 1..3 ×
    cap ∈ 50/100/200 at sf0.01): cap=100/probes=2 = recall 0.632 at
    43% of the unsplit candidate budget — the knee where the second
    probe buys +0.10 recall for +7% budget while a third buys +0.08
    for another +7%; at fixed cap each probe step is near-linear in
    both axes, so probe width is the fine-grained recall knob (no
    re-index), cap sets the floor.

    Scale shape: identical to knn_graph_cellsplit except the source
    side of the candidate equi-join carries ≤ {p} rows per hot-cell
    member (the probe fan-out is map-side, pruned by the same Partial
    WindowGroupLimit rank); the top-{k} per source is unchanged."""
    q, remap = _cell_split_assign(spark, sf_dir, cap=cap, probes=probes)
    # both sides of the candidate join read the remap — pin it once
    a = pin(remap, eager=False)
    cand = _cell_pairs(a, a.filter(F.col("home")), ["cid", "sub_cid"])
    return _top_k(_score_pairs(cand, q), _GIVF_K)


knn_graph_cellsplit_probe.__doc__ = knn_graph_cellsplit_probe.__doc__.format(
    p=_SPLIT_PROBES, k=_GIVF_K
)


_RSPLIT_CAP = 12  # entry-scale cap: sf0.01 round-1 sub-cells reach 31, so
                  # the SECOND round provably fires at the checked scale


# the two-round recursive-split CTE unroll (ends in CTE ``r2`` = the
# member-grain post-split map (vec_id, cid, ck)); shared by the
# cell-grain maintenance entry (ivf_cell_split_recursive) and the k-NN
# graph composed over the recursive map (knn_graph_recursive_split)
_RSPLIT_CTES = _GIVF_CAND_CTES + f""",
r1c AS (
    SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM assigned GROUP BY cid
),
r1hot AS (
    SELECT cid, CAST(ceil(sqrt(n)) AS BIGINT) AS s
    FROM r1c WHERE n > {_RSPLIT_CAP}
),
r1seeds AS (
    SELECT cid, seed FROM (
        SELECT a.cid, a.vec_id AS seed, h.s,
               ROW_NUMBER() OVER (
                   PARTITION BY a.cid ORDER BY a.vec_id) AS srank
        FROM assigned a JOIN r1hot h USING (cid)
    ) WHERE srank <= s
),
r1 AS MATERIALIZED (
    SELECT vec_id, cid,
           md5(CAST(cid AS VARCHAR) || '#' || CAST(seed AS VARCHAR)) AS ck
    FROM (
        SELECT a.vec_id, a.cid, s.seed,
               ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id, a.cid
                   ORDER BY list_sum(list_transform(list_zip(qm.qv, qs.qv),
                                     x -> x[1] * x[2])) DESC, s.seed
               ) AS rn
        FROM assigned a
        JOIN r1seeds s USING (cid)
        JOIN q qm ON qm.vec_id = a.vec_id
        JOIN q qs ON qs.vec_id = s.seed
    ) WHERE rn = 1
    UNION ALL
    SELECT vec_id, cid, CAST(cid AS VARCHAR) AS ck
    FROM assigned WHERE cid NOT IN (SELECT cid FROM r1hot)
),
r2c AS (
    SELECT cid, ck, CAST(COUNT(*) AS BIGINT) AS n FROM r1 GROUP BY cid, ck
),
r2hot AS (
    SELECT cid, ck, CAST(ceil(sqrt(n)) AS BIGINT) AS s
    FROM r2c WHERE n > {_RSPLIT_CAP}
),
r2seeds AS (
    SELECT cid, ck, seed FROM (
        SELECT a.cid, a.ck, a.vec_id AS seed, h.s,
               ROW_NUMBER() OVER (
                   PARTITION BY a.cid, a.ck ORDER BY a.vec_id) AS srank
        FROM r1 a JOIN r2hot h USING (cid, ck)
    ) WHERE srank <= s
),
r2 AS (
    SELECT vec_id, cid,
           md5(old_ck || '#' || CAST(seed AS VARCHAR)) AS ck
    FROM (
        SELECT a.vec_id, a.cid, a.ck AS old_ck, s.seed,
               ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id, a.cid, a.ck
                   ORDER BY list_sum(list_transform(list_zip(qm.qv, qs.qv),
                                     x -> x[1] * x[2])) DESC,
                            md5(CAST(a.vec_id AS VARCHAR) || '#'
                                || CAST(s.seed AS VARCHAR))
               ) AS rn
        FROM r1 a
        JOIN r2seeds s USING (cid, ck)
        JOIN q qm ON qm.vec_id = a.vec_id
        JOIN q qs ON qs.vec_id = s.seed
    ) WHERE rn = 1
    UNION ALL
    SELECT a.vec_id, a.cid, a.ck FROM r1 a
    WHERE NOT EXISTS (SELECT 1 FROM r2hot h
                      WHERE h.cid = a.cid AND h.ck = a.ck)
)"""


@register(
    "ivf_cell_split_recursive",
    survey="NS-sim(ANN index maintenance: RECURSIVE hot-cell split — re-census after each round, re-split any sub-cell still past cap; bounded rounds, md5 path keys + md5 tie-spread so the whole iteration replays in ANSI SQL),J1,W1-W3,A6",
    oracle=_RSPLIT_CTES + """
SELECT cid, ck, CAST(COUNT(*) AS BIGINT) AS n_members
FROM r2 GROUP BY cid, ck
""",
)
def ivf_cell_split_recursive(spark, sf_dir):
    """The recursive hot-cell split as a driver-checked entry — the
    round-12 residual (one split round bounds Σ|cell|² at ~Σ|cell|^1.5,
    but an adversarial cell can leave a sub-cell still hot) under its
    own oracle, not just probe/pytest evidence. Two bounded rounds at
    cap={cap}: at sf0.01 the IVF map's hot cells reach 116 members, the
    first round's sub-cells still reach 31 > {cap}, so the SECOND round
    provably executes at the checked scale (pytest-pinned), exercising
    the md5 path-key chaining AND the md5 tie-spread rank — the full
    iteration replayed by the oracle's two-round CTE unroll. Output is
    the post-split cell map at cell grain: (cid, ck, n_members), the
    artifact a reindex job persists.

    Scale shape: per round — one map-side-combined census; hot keys +
    seed lists centroid-sized and broadcast; members re-rank only
    against their own cell's ≤ ceil(sqrt(n)) seeds via a Partial
    WindowGroupLimit; lineage cut per round. See
    `recursive_cell_split` for the unbounded-round operator and the
    measured ×100 exact-copy probe (BASELINE.md round-12)."""
    return (
        recursive_cell_split(spark, sf_dir, cap=_RSPLIT_CAP, max_rounds=2)
        .groupBy("cid", "ck")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    )


ivf_cell_split_recursive.__doc__ = ivf_cell_split_recursive.__doc__.format(
    cap=_RSPLIT_CAP
)


def recursive_cell_split(spark, sf_dir, cap=_SPLIT_CAP, max_rounds=4):
    """Iterated hot-cell split (round 12) — closes the one-round split's
    residual: splitting a mega-cell of n members into ceil(sqrt(n))
    sub-cells bounds the candidate term at ~Σ|cell|^1.5, but an
    adversarial cell can leave a sub-cell still past ``cap``. This
    operator re-censuses after every round and re-splits any sub-cell
    still hot, until all are ≤ cap or ``max_rounds`` is exhausted —
    O(log log n) rounds for hash-spread ties, since populations fall
    ~√n per round.

    Returns the member-grain final map (vec_id, cid, ck): ``ck`` is the
    final sub-cell key — cid rendered as a string for never-split
    members, else the deterministic path hash
    md5(parent_ck || '#' || chosen_seed). md5-over-string keys (rather
    than xxhash64) keep every key and tie-break REPLAYABLE IN ANSI SQL,
    so the bounded-round form carries its own DuckDB oracle
    (`ivf_cell_split_recursive`).

    Tie handling is the load-bearing difference from the one-round
    split: EXACT-copy members have identical dots to every seed, so a
    (dot DESC, seed ASC) rank sends all copies to one seed and no
    amount of iteration can separate them. Rounds ≥ 2 therefore break
    dot ties by the member-specific hash md5(vec_id || '#' || seed) —
    deterministic, content-respecting for distinct vectors (the dot
    still dominates), and uniformly spreading for exact ties, which is
    semantically free: exact duplicates are interchangeable candidates,
    any balanced partition of them preserves which NON-duplicate
    neighbors each can reach. (Two-column xxhash64 was measured
    UNSUITABLE here: Spark chains multi-column xxhash64 through the
    seed parameter, whose avalanche on 8-byte integer inputs is weak
    enough that one seed won the argmin for every member of an
    11-member cell — the split no-ops and the recursion stalls.)
    Round 1 keeps the (dot, seed) rank so the first round matches
    `_cell_split_assign` / the ivf_cell_split oracle exactly.

    Scale shape per round: census is one map-side-combined count; hot
    keys and their seed lists stay centroid-sized and broadcast;
    members re-rank only against their own cell's ≤ ceil(sqrt(n)) seeds
    with a Partial WindowGroupLimit argmin; lineage is cut per round
    (pinned), the dedup_clusters_star iteration pattern. The census pin
    observes its max cell (one job), which decides termination."""
    from pyspark.sql import Window

    q, assigned = _ivf_assign(spark, sf_dir, super_fac=_GIVF_SFAC)
    cur = pin(
        assigned.join(q, "vec_id").select(
            "vec_id", "cid", F.col("cid").cast("string").alias("ck"), "qv"
        ),
        eager=False,
    )
    for rnd in range(max_rounds):
        cells, census = observed_pin(
            cur.groupBy("cid", "ck").agg(F.count(F.lit(1)).cast("bigint").alias("n")),
            F.max("n").alias("mx"),
        )
        if census["mx"] is None or census["mx"] <= cap:
            break
        hot = cells.filter(F.col("n") > cap).select(
            "cid", "ck", F.ceil(F.sqrt(F.col("n"))).cast("bigint").alias("s")
        )
        ws = Window.partitionBy("cid", "ck").orderBy("vec_id")
        # seed rows are a subset of the checkpointed cur, which already
        # carries qv — no re-join against the corpus-sized q per round
        seeded = (
            cur.join(F.broadcast(hot), ["cid", "ck"])
            .withColumn("srank", F.row_number().over(ws))
            .filter(F.col("srank") <= F.col("s"))
            .select(
                "cid", "ck",
                F.col("vec_id").alias("seed"), F.col("qv").alias("qs"),
            )
        )
        sdot = int_dot("qv", "qs")
        # round 1: (dot DESC, seed ASC); later rounds: md5 tie-spread
        tiebreak = (
            F.asc("seed") if rnd == 0
            else F.asc(F.md5(F.concat_ws("#", "vec_id", "seed")))
        )
        wr = Window.partitionBy("vec_id", "cid", "ck").orderBy(
            F.desc("sdot"), tiebreak
        )
        split = (
            cur.join(F.broadcast(hot.select("cid", "ck")), ["cid", "ck"])
            .join(F.broadcast(seeded), ["cid", "ck"])
            .select("vec_id", "cid", "ck", "seed", "qv", sdot.alias("sdot"))
            .withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") == 1)
            .select(
                "vec_id", "cid",
                F.md5(F.concat_ws("#", "ck", "seed")).alias("ck"), "qv",
            )
        )
        keep = cur.join(
            F.broadcast(hot.select("cid", "ck")), ["cid", "ck"], "left_anti"
        ).select("vec_id", "cid", "ck", "qv")
        cur = pin(split.unionByName(keep), eager=False)
    return cur.select("vec_id", "cid", "ck")


def knn_graph_recursive_edges(spark, sf_dir, cap=_SPLIT_CAP, max_rounds=2,
                              k=_GIVF_K):
    """Corpus k-NN graph whose candidate self-join keys on the RECURSIVE
    post-split map (cid, ck) — the knn_graph_cellsplit shape riding
    `recursive_cell_split` instead of the one-round `_cell_split_assign`,
    so the candidate term is bounded by the FINAL (every sub-cell ≤ cap)
    census, not the after-one-round census. With no hot cells the map is
    the identity (ck = cid as a string) and the edges are byte-equal to
    knn_graph_ivf's (pytest-pinned)."""
    rmap = recursive_cell_split(spark, sf_dir, cap=cap,
                                max_rounds=max_rounds)
    # both sides of the candidate self-join read the map — pin it once
    a = pin(rmap, eager=False)
    cand = _cell_pairs(a, a, ["cid", "ck"])
    return _top_k(_score_pairs(cand, _quantized(spark, sf_dir)), k)


@register(
    "knn_graph_recursive_split",
    survey="NS-sim(corpus k-NN graph over the RECURSIVE post-split cell map — candidates join on the final (cid, ck) path keys, so an adversarial mega-cell that survives one split round still contributes only ≤cap-bounded sub-cell² pairs),J1,W2",
    oracle=_RSPLIT_CTES + f""",
candr AS (
    SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
    FROM r2 a JOIN r2 b
      ON a.cid = b.cid AND a.ck = b.ck AND a.vec_id <> b.vec_id
),
scoredr AS (
    SELECT c.src, c.dst,
           CAST(list_sum(list_transform(list_zip(qa.qv, qb.qv),
                    x -> x[1] * x[2])) AS BIGINT) AS dot
    FROM candr c
    JOIN q qa ON qa.vec_id = c.src
    JOIN q qb ON qb.vec_id = c.dst
)
SELECT src, dst, dot FROM (
    SELECT src, dst, dot,
           ROW_NUMBER() OVER (
               PARTITION BY src ORDER BY dot DESC, dst) AS rk
    FROM scoredr
) WHERE rk <= {_GIVF_K}
""",
)
def knn_graph_recursive_split(spark, sf_dir):
    """The round-12 residual closed: `recursive_cell_split` existed but no
    k-NN consumer rode it, so an adversarial mega-cell in the GRAPH path
    still paid sub-cell² above cap after the one split round
    `knn_graph_cellsplit` keys on. This entry keys the candidate
    self-join on the RECURSIVE map's final (cid, ck) path keys — every
    sub-cell the iteration left is ≤ cap (or the bounded rounds ran
    out), so the candidate term an exact-copy mega-cell contributes is
    cap-bounded per sub-cell regardless of how adversarial the cell was
    (pinned through this graph path by pytest
    test_recursive_graph_caps_mega_cell_candidates: ×100 exact-copy
    corpus, candidate pairs ≤ #subcells·cap·(cap−1) and far under
    all-pairs). Same cap={cap}/max_rounds=2 operating point
    as `ivf_cell_split_recursive`, so the two-round oracle unroll is
    shared (`_RSPLIT_CTES`) and the SECOND round provably fires at the
    checked scale. Degenerate case pytest-pinned: no hot cells ⇒
    byte-equal to knn_graph_ivf.

    Scale shape: inherits the recursive split's per-round audit
    (map-side census, broadcast seeds, Partial WindowGroupLimit argmin,
    per-round lineage cut); the candidate join is an equi-join on the
    composite path key; exact-dot scoring joins are id-equi-joins; the
    final top-{k} prunes map-side. The md5 ties ARE load-bearing here:
    exact copies spread across sub-seeds, so copies of a flooded vector
    meet only ≤cap siblings instead of the whole flood."""
    return knn_graph_recursive_edges(spark, sf_dir, cap=_RSPLIT_CAP,
                                     max_rounds=2)


knn_graph_recursive_split.__doc__ = knn_graph_recursive_split.__doc__.format(
    cap=_RSPLIT_CAP, k=_GIVF_K
)


_HNEG_K = 3  # hard negatives per anchor


@register(
    "hard_negative_mining",
    survey="NS-sim(contrastive-training data op: per-anchor top-k most-similar OTHER-label vectors via the IVF cell-join candidate stage — bucketed, never all-pairs),J1,W2,P3",
    oracle=_GIVF_CAND_CTES + f""",
lab AS (SELECT vec_id, CAST(label AS BIGINT) AS l FROM embeddings),
neg AS (
    SELECT s.src AS anchor, s.dst AS negative, s.dot,
           la.l AS anchor_label, lb.l AS negative_label
    FROM scored s
    JOIN lab la ON la.vec_id = s.src
    JOIN lab lb ON lb.vec_id = s.dst
    WHERE la.l <> lb.l
)
SELECT anchor, negative, dot, anchor_label, negative_label FROM (
    SELECT anchor, negative, dot, anchor_label, negative_label,
           ROW_NUMBER() OVER (
               PARTITION BY anchor ORDER BY dot DESC, negative) AS rk
    FROM neg
) WHERE rk <= {_HNEG_K}
""",
)
def hard_negative_mining(spark, sf_dir):
    """Hard-negative mining — the contrastive-training data op: for every
    anchor vector, the {k} most-similar vectors carrying a DIFFERENT
    label (the near-miss confusables an embedding model trains against;
    random negatives are too easy to shape the decision boundary). Rides
    the IVF candidate stage end to end: candidates are pairs sharing a
    probed cell (the knn_graph_ivf chain through ``scored``, exact
    64×-quantized integer dots), labels join on the same id-equi-joins
    the quantized vectors do, same-label pairs filter out BEFORE the
    per-anchor rank, and a Partial WindowGroupLimit prunes to {k}
    rows/anchor map-side. Semantically this is "nearest neighbor subject
    to a predicate" — the predicate must sit between candidate
    generation and ranking (filtering a plain k-NN result AFTER top-k
    would under-fill anchors whose nearest neighbors share its label).

    Scale shape: inherits knn_graph_ivf's measured posture (two-level
    broadcast assignment, cell equi-join candidates, α ≈ 0.5
    distinct-content growth — BASELINE.md rounds 9b/10); the label join
    adds two id-equi-joins carrying one BIGINT. Recall caveat stated
    honestly: an anchor whose cells hold only same-label vectors emits
    no negatives (the IVF probe trade-off; raise probes or stride for
    coverage) — on the 10-cluster fixture every anchor's 2 probed cells
    mix labels, so coverage is full there.
    """
    q, assigned = _ivf_assign(spark, sf_dir, super_fac=_GIVF_SFAC)
    scored = _score_pairs(_cell_pairs(assigned, assigned, ["cid"]), q)
    # labels ride the same id-equi-joins the quantized vectors do; only
    # cross-label candidates reach the rank
    lab = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("bigint").alias("l")
    )
    neg = (
        scored.join(lab.select(F.col("vec_id").alias("src"),
                               F.col("l").alias("anchor_label")), "src")
        .join(lab.select(F.col("vec_id").alias("dst"),
                         F.col("l").alias("negative_label")), "dst")
        .filter(F.col("anchor_label") != F.col("negative_label"))
    )
    return _top_k(neg, _HNEG_K).select(
        F.col("src").alias("anchor"), F.col("dst").alias("negative"),
        "dot", "anchor_label", "negative_label",
    )


hard_negative_mining.__doc__ = hard_negative_mining.__doc__.format(k=_HNEG_K)


_RANKEVAL_K = 10      # ranked-list depth for the retrieval metrics
_RR_SCALE = 1_000_000  # fixed-point reciprocal-rank unit


@register(
    "ranking_eval_topk",
    survey="NS-sim(retrieval ranking evaluation: exact per-anchor MRR / hits@k / recall@k components over the IVF top-k list, relevance = shared label),J1,W2,A3-A6",
    oracle=_GIVF_CAND_CTES + f""",
e AS MATERIALIZED (
    SELECT src, dst, dot,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY dot DESC, dst) AS rk
    FROM scored
),
lab AS (SELECT vec_id, CAST(label AS BIGINT) AS l FROM embeddings),
cls AS (SELECT l, CAST(COUNT(*) AS BIGINT) AS n FROM lab GROUP BY l),
r AS (
    SELECT e.src, e.rk,
           CASE WHEN la.l = lb.l THEN 1 ELSE 0 END AS rel, la.l
    FROM e
    JOIN lab la ON la.vec_id = e.src
    JOIN lab lb ON lb.vec_id = e.dst
    WHERE e.rk <= {_RANKEVAL_K}
),
pa AS (
    SELECT src AS anchor, MAX(l) AS l,
           CAST(COUNT(*) AS BIGINT) AS n_ranked,
           CAST(SUM(rel) AS BIGINT) AS n_rel,
           CAST(COALESCE(MIN(CASE WHEN rel = 1 THEN rk END), 0) AS BIGINT)
               AS first_rel_rank
    FROM r GROUP BY src
)
SELECT pa.anchor, pa.n_ranked, pa.n_rel, pa.first_rel_rank,
       CAST(CASE WHEN pa.first_rel_rank > 0
                 THEN {_RR_SCALE} // pa.first_rel_rank ELSE 0 END AS BIGINT)
           AS rr_x,
       CAST((1000 * pa.n_rel)
            // LEAST({_RANKEVAL_K}, cls.n - 1) AS BIGINT) AS recall_milli
FROM pa JOIN cls ON cls.l = pa.l
""",
)
def ranking_eval_topk(spark, sf_dir):
    """Retrieval-quality evaluation of the ANN index as a RANKING, not
    just a set: per anchor, the exact MRR / hits@k / recall@k components
    over the IVF top-{k} list with relevance = "shares the anchor's
    label" (the embedding fixture's ground truth — the standard proxy
    eval when no click log exists). ann_recall_eval grades set overlap
    vs brute force; THIS grades ranked order: `first_rel_rank` and the
    fixed-point reciprocal rank rr_x = {s} div rank (exact integers —
    mean(rr_x)/{s} IS the MRR), `n_rel` of the top {k} (hits@{k};
    precision@{k} = n_rel/{k}), and recall_milli = 1000·n_rel div
    min({k}, |class|−1) (the truncated-recall denominator — an anchor
    cannot retrieve more same-label vectors than its class holds).
    NDCG is deliberately absent: its log2 discounts have no exact
    integer form, and a cross-engine float hash on transcendental
    output is the round-3 failure class.

    Scale shape: the ranked lists are knn_graph_ivf's candidate chain
    (two-level broadcast assignment, cell equi-join candidates, Partial
    WindowGroupLimit top-{k} — α ≈ 0.5 measured); labels and class
    sizes join as id-equi-joins / a broadcast |labels|-row table; the
    metrics are ONE map-side-combined per-anchor aggregate. At 100 TB
    the eval costs one index probe pass — the same plan the production
    query path runs.
    """
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    edges = knn_graph_ivf_edges(
        spark, sf_dir, k=_RANKEVAL_K, super_fac=_GIVF_SFAC
    )
    lab = emb.select("vec_id", F.col("label").cast("bigint").alias("l"))
    w = Window.partitionBy("src").orderBy(F.desc("dot"), F.asc("dst"))
    ranked = (
        edges.withColumn("rk", F.row_number().over(w))
        .join(lab.select(F.col("vec_id").alias("src"),
                         F.col("l").alias("la")), "src")
        .join(lab.select(F.col("vec_id").alias("dst"),
                         F.col("l").alias("lb")), "dst")
        .select(
            "src", "rk",
            (F.col("la") == F.col("lb")).cast("bigint").alias("rel"),
            F.col("la").alias("l"),
        )
    )
    pa = ranked.groupBy(F.col("src").alias("anchor")).agg(
        F.max("l").alias("l"),
        F.count(F.lit(1)).cast("bigint").alias("n_ranked"),
        F.sum("rel").cast("bigint").alias("n_rel"),
        F.coalesce(
            F.min(F.when(F.col("rel") == 1, F.col("rk"))), F.lit(0)
        ).cast("bigint").alias("first_rel_rank"),
    )
    cls = lab.groupBy("l").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        pa.join(F.broadcast(cls), "l")
        .select(
            "anchor", "n_ranked", "n_rel", "first_rel_rank",
            F.when(
                F.col("first_rel_rank") > 0,
                F.expr(f"{_RR_SCALE} div first_rel_rank"),
            ).otherwise(0).cast("bigint").alias("rr_x"),
            F.expr(
                f"(1000 * n_rel) div least({_RANKEVAL_K}, n - 1)"
            ).cast("bigint").alias("recall_milli"),
        )
    )


ranking_eval_topk.__doc__ = ranking_eval_topk.__doc__.format(k=_RANKEVAL_K, s=_RR_SCALE)


_DRIFT_Q = 1 << 20  # fixed-point unit for the per-dimension sums


@register(
    "embedding_drift_monitor",
    survey="NS-sim(embedding-health monitoring: per-label centroid drift between snapshot halves — exact cross-multiplied integer L1, one linear pass),A3-A6,W1",
    oracle=f"""
WITH q AS (
    SELECT CAST(label AS BIGINT) AS label, vec_id % 2 AS half,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {_DRIFT_Q}) AS BIGINT))
               AS qv
    FROM embeddings
),
dims AS (
    SELECT label, half, u.i AS dim, qv[u.i + 1] AS v
    FROM q, unnest(range(0, len(qv))) AS u(i)
),
agg AS (
    SELECT label, dim,
           SUM(CASE WHEN half = 0 THEN v ELSE 0 END) AS s_old,
           SUM(CASE WHEN half = 1 THEN v ELSE 0 END) AS s_new,
           SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n_old,
           SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_new
    FROM dims GROUP BY label, dim
)
SELECT label,
       CAST(MAX(n_old) AS BIGINT) AS n_old,
       CAST(MAX(n_new) AS BIGINT) AS n_new,
       CAST(SUM(abs(s_old * n_new - s_new * n_old)) AS BIGINT) AS drift_x
FROM agg GROUP BY label
""",
)
def embedding_drift_monitor(spark, sf_dir):
    """Embedding drift — the health check a pipeline runs when a new
    snapshot (or a new encoder version) lands: per label, how far did
    the class centroid move between the old half (vec_id % 2 = 0) and
    the new half? Exact integers end to end: vectors quantize to
    floor(2²⁰·x), per-(label, half, dim) sums accumulate in one
    map-side-combined aggregate, and the centroid difference avoids
    division entirely via cross-multiplication —
    drift_x = Σ_d |s_old[d]·n_new − s_new[d]·n_old|, which is
    n_old·n_new · L1(mean_old − mean_new) in fixed point, so it is
    hash-exact across engines and zero iff the two half-centroids
    coincide. A real deployment alerts on drift_x normalized by
    n_old·n_new against a per-label baseline.

    Scale shape: ONE linear corpus pass — a 64-way per-row explode
    feeding a (label, dim) aggregate whose output is |labels|·64 cells
    (map-side combine does the heavy lifting; no join, no window, no
    second scan), then a |labels|-row rollup. Overflow-safe: |s| ≤
    2²⁰·64·n and the cross product multiplies by n — int64-exact
    through n ≈ 3·10⁵ per label·half at 64 dims; past that the sums
    pre-shift right (the PCA magnitude-split treatment).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.col("label").cast("bigint").alias("label"),
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * _DRIFT_Q).cast("bigint"),
            )
        ).alias("dim", "v"),
    )
    agg = dims.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("half") == 0, F.col("v")).otherwise(0)).alias("s_old"),
        F.sum(F.when(F.col("half") == 1, F.col("v")).otherwise(0)).alias("s_new"),
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n_old"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n_new"),
    )
    return agg.groupBy("label").agg(
        F.max("n_old").cast("bigint").alias("n_old"),
        F.max("n_new").cast("bigint").alias("n_new"),
        F.sum(
            F.abs(F.col("s_old") * F.col("n_new") - F.col("s_new") * F.col("n_old"))
        ).cast("bigint").alias("drift_x"),
    )
