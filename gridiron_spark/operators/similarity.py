"""Embedding similarity at scale: sign-random-projection (SRP) LSH bucketing.

Brute-force cosine (queries/similarity.py) is one map-only pass for a single
query vector, but *all-pairs* similarity (embedding near-dup) is O(n²) — at
100 TB that is never an option. The scale path is Charikar SRP-LSH: project
each vector onto ``planes`` fixed hyperplanes, take the sign bit of each
projection, and only compare pairs whose sign-signatures collide. The
candidate self-join shuffles on the bucket id; exact cosine verifies every
candidate, so emitted (pair, score) rows are exact values — LSH only governs
recall, which rises with fewer planes (bigger buckets) and with multiple
independent tables.

**Determinism / oracle-checkability:** hyperplanes are ±1 vectors derived
from md5 parity at *plan-construction time* (plain Python, hashlib) and
inlined as literals into both the Spark plan and the DuckDB oracle SQL — no
engine RNG, no stored side-state. Dot products accumulate left-to-right
(F.aggregate ≡ DuckDB list_sum over list_transform), so bucket signs and
cosine values are bit-identical across engines (see functions/vectors.py).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gridiron_spark.functions.vectors import cosine, dot, l2_sq, norm2
from gridiron_spark.io.tables import fan_out, observed_pin, pin


def srp_signs(planes: int, dims: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: sign p,d = parity of md5("{p}|{d}")."""
    return [
        [
            1.0 if int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[:4], 16) % 2 else -1.0
            for d in range(dims)
        ]
        for p in range(planes)
    ]


def srp_bucket(vec: Column, signs: list[list[float]]) -> Column:
    """LSH bucket id: bit p is set iff ⟨vec, Hₚ⟩ > 0.

    Mirror SQL per plane: ``CASE WHEN list_sum(list_transform(list_zip(v,
    [±1,...]), x -> CAST(x[1] AS DOUBLE) * x[2])) > 0 THEN 2^p ELSE 0 END``.
    """
    bucket = F.lit(0)
    for p, plane in enumerate(signs):
        dot_p = dot(vec, F.array(*[F.lit(s) for s in plane]))
        bucket = bucket + F.when(dot_p > 0, F.lit(1 << p)).otherwise(0)
    return bucket


def embedding_near_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    planes: int = 4,
    dims: int = 64,
) -> DataFrame:
    """All-pairs embedding near-dup: SRP-bucketed candidates, exact-cosine
    verified. Returns (vec_a, vec_b, cos_sim), vec_a < vec_b.

    ``planes`` trades recall for bucket size: 2^planes buckets; expected
    bucket population n/2^planes bounds the per-bucket quadratic cost. At
    cluster scale raise planes (and/or add independent tables and union) so
    buckets stay O(thousands); AQE skew-join covers hot buckets.
    """
    signs = srp_signs(planes, dims)
    # norms precomputed per vector (not per pair): same float expression as
    # cosine()'s denominator, evaluated n times instead of n²/buckets times.
    # fan_out: the per-vector SRP projection (planes × dims dots) is narrow
    # over the scan — single-file scans would hash on ONE core (guide §2.4).
    emb = fan_out(emb)
    bucketed = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        srp_bucket(F.col(vec_col), signs).alias("bucket"),
        norm2(F.col(vec_col)).alias("nrm"),
    )
    cand = (
        bucketed.alias("a")
        .join(
            bucketed.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (
                dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cos_sim"),
        )
    )
    return cand.filter(F.col("cos_sim") >= threshold)


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    centroid_stride: int = 50,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: coarse quantize, probe the nearest lists.

    The IVF recipe at scale: (1) pick coarse centroids — here a deterministic
    1-in-``centroid_stride`` subset of the vectors themselves (a real build
    uses k-means; the *search* structure is identical and determinism keeps
    the whole operator oracle-checkable); (2) assign every vector to its
    nearest centroid (linear pass, one window shuffle on vec_id — at 100 TB
    this is the index build, amortized across queries); (3) at query time
    score only the ``n_probe`` nearest centroid lists — search cost drops by
    ~centroids/n_probe vs brute force, recall governed by n_probe.

    Ties broken by (cos DESC, id ASC) everywhere; all cosine math is the
    left-fold double form (functions/vectors.py) so scores hash-match.
    """
    from pyspark.sql import Window

    cents = emb.filter(F.col(id_col) % centroid_stride == 0).select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cvec"),
        norm2(F.col(vec_col)).alias("cnrm"),
    )
    q = emb.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("qvec")
    )
    # norms per vector/centroid, not per (vector, centroid) pair — the
    # assignment pass is n × centroids cosines, its one optimizable constant.
    # fan_out: that n×C fan-out is narrow over the scan (guide §2.4).
    pairs = fan_out(emb).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        norm2(F.col(vec_col)).alias("vnrm"),
    ).join(F.broadcast(cents))
    pair_cos = dot(F.col("v"), F.col("cvec")) / (F.col("vnrm") * F.col("cnrm"))
    rn = F.row_number().over(
        Window.partitionBy("vec_id").orderBy(pair_cos.desc(), "cid")
    )
    assigned = (
        pairs.withColumn("rn", rn).filter(F.col("rn") == 1).select("vec_id", "v", "cid")
    )
    probe = (
        cents.join(F.broadcast(q))
        .select("cid", cosine(F.col("cvec"), F.col("qvec")).alias("qc"))
        .orderBy(F.col("qc").desc(), "cid")
        .limit(n_probe)
        .select("cid")
    )
    return (
        assigned.join(F.broadcast(probe), "cid")
        .filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q))
        .select("vec_id", cosine(F.col("v"), F.col("qvec")).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(k)
    )


def srp_bucket_sql(vec_expr: str, signs: list[list[float]]) -> str:
    """The DuckDB mirror of :func:`srp_bucket`, with hyperplanes inlined."""
    terms = []
    for p, plane in enumerate(signs):
        lit = "[" + ", ".join(f"{s:.1f}" for s in plane) + "]"
        terms.append(
            f"CASE WHEN list_sum(list_transform(list_zip({vec_expr}, {lit}), "
            f"x -> CAST(x[1] AS DOUBLE) * x[2])) > 0 THEN {1 << p} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


def lloyd_assign(
    emb: DataFrame, centroids: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """One Lloyd assignment step: each vector to its nearest centroid
    (squared L2; ties break to the smaller cluster id).

    ``centroids`` is (cluster bigint, cvec array<float>) — k rows, always
    broadcast. The distance fan-out is map-side (×k per vector), and the
    argmin is a per-vector WindowGroupLimit (rank-1 over a corpus-cardinality
    key), so the whole step is one linear pass at any corpus size.
    """
    from pyspark.sql import Window

    # fan_out: the ×k distance fan-out is narrow over the scan — a
    # single-file scan would compute every distance on ONE core (§2.4);
    # no-op on well-partitioned or non-stat-able inputs.
    d = fan_out(emb).crossJoin(F.broadcast(centroids)).select(
        id_col,
        "embedding",
        "cluster",
        l2_sq(F.col("embedding"), F.col("cvec")).alias("dist2"),
    )
    w = Window.partitionBy(id_col).orderBy("dist2", "cluster")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def lloyd_update(assigned: DataFrame) -> DataFrame:
    """Centroid update: per-cluster dimension-wise mean of member vectors.

    posexplode fans each member into (cluster, dim, value) rows — map-side —
    and the mean is one map-side-combined aggregate on (cluster, dim):
    k×dims result rows regardless of corpus size. Double means are
    shuffle-order-dependent, so this step is pinned by pytest (numpy
    tolerance), not by the value-hash oracle; the assignment step is the
    hash-checked half.
    """
    return (
        assigned.select(
            "cluster", F.posexplode("embedding").alias("dim", "x")
        )
        .groupBy("cluster", "dim")
        .agg(
            F.avg(F.col("x").cast("double")).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


KMEANS_SCALE = 1 << 20  # fixed-point grid for the deterministic update


def quantized_lloyd_update(
    assigned: DataFrame, prev_cents: DataFrame
) -> DataFrame:
    """Centroid update on a fixed-point grid — the deterministic,
    cross-engine-exact form of the Lloyd mean.

    A plain ``AVG(double)`` is shuffle-order-dependent, so an iterated
    k-means could never hash-match an oracle (and two Spark runs could
    diverge). Instead each element is quantized ``floor(x · 2²⁰)`` — exact
    for float32 inputs (power-of-two scaling never rounds; floor has no
    ties) — summed as BIGINT (exact, associative, order-free), and the
    mean is two IEEE divisions at the end: ``(sum/n)/2²⁰``. Every engine
    computes the identical centroid bit-for-bit; the 2⁻²⁰ grid error is
    far below any embedding's noise floor. Empty clusters keep their
    previous centroid (standard Lloyd fallback), which also makes the
    update idempotent at the assignment fixpoint.

    SQL mirror per (cluster, dim):
    ``(CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))
    AS DOUBLE) / COUNT(*)) / 1048576.0``.
    """
    upd = (
        assigned.select("cluster", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("cluster", "dim")
        .agg(
            F.sum(
                F.floor(F.col("x").cast("double") * F.lit(float(KMEANS_SCALE)))
                .cast("bigint")
            ).alias("qsum"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "cluster",
            "dim",
            (
                (F.col("qsum").cast("double") / F.col("n"))
                / F.lit(float(KMEANS_SCALE))
            ).alias("val"),
        )
    )
    new_c = (
        upd.groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "val"))).alias("dv"))
        .select("cluster", F.col("dv.val").alias("cvec"))
    )
    return (
        prev_cents.alias("p")
        .join(new_c.alias("n"), "cluster", "left")
        .select(
            "cluster",
            F.coalesce(F.col("n.cvec"), F.col("p.cvec")).alias("cvec"),
        )
    )


def seed_centroids(emb: DataFrame, k: int, id_col: str = "vec_id") -> DataFrame:
    """Deterministic seeds: the first ``k`` vectors, elements widened to
    double so seeds and updated centroids share one type."""
    return emb.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("cluster"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cvec"),
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    rounds: int = 4,
    id_col: str = "vec_id",
    two_level_groups: int | None = None,
    probes: int = 2,
) -> DataFrame:
    """Lloyd's algorithm TO CONVERGENCE (capped at ``rounds``): iterate
    assign → quantized update from the first-K seeds, early-exiting when
    the assignment reaches a fixpoint. Returns the final (cluster, cvec)
    table.

    Convergence is an order-free ``BIT_XOR(xxhash64(id, cluster))``
    fingerprint of the assignment (xor, not sum: overflow-free under ANSI
    mode) observed by its own pin (:func:`observed_pin`) — when it repeats,
    the update would reproduce the same centroids (quantized means are a
    pure function of the assignment; empty-cluster fallback chains), so
    every further round is a no-op. That is what makes the FIXED-round
    oracle replay exact even when Spark exits early: the unrolled rounds
    past the fixpoint recompute identical centroids.

    Scale shape per round: one linear assignment pass (broadcast
    centroids, rank-1 WindowGroupLimit) + one k×dims aggregate; lineage is
    cut per round by the assignment's pin (one job) and a lazy centroid
    pin. Cost is rounds × one corpus pass — no corpus-sized state on the
    driver, ever (the fingerprint is one value).
    """
    cents = seed_centroids(emb, k, id_col)
    prev_fp = None
    for _ in range(rounds):
        if two_level_groups is not None:
            # scaled-k regime: O(√k) distances per vector per round
            # (coarse-then-fine; see two_level_assign) — the training-side
            # twin of the semdedup_two_level assignment
            assigned = two_level_assign(
                emb, cents, groups=two_level_groups, probes=probes,
                id_col=id_col,
            )
        else:
            assigned = lloyd_assign(emb, cents, id_col)
        assigned, fp = observed_pin(
            assigned, F.bit_xor(F.xxhash64(id_col, "cluster")).alias("fp")
        )
        if fp == prev_fp:
            break
        prev_fp = fp
        cents = pin(quantized_lloyd_update(assigned, cents), eager=False)
    return cents


def two_level_assign(
    emb: DataFrame,
    centroids: DataFrame,
    groups: int,
    probes: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Coarse-then-fine Lloyd assignment — the scaled-k regime's answer
    to the n×k distance fan-out (the ann_ivf_topk probe pattern applied
    to clustering itself).

    Level 0 (centroid-side, k rows — driver-trivial): the first
    ``groups`` centroids seed branches; every centroid joins its nearest
    seed's branch, and the branch's super-centroid is the fixed-point
    quantized mean of its members (floor(x·2²⁰) BIGINT sums + two IEEE
    divisions — exact and order-free, see quantized_lloyd_update).

    Level 1 (vector-side): each vector ranks the ``groups``
    super-centroids (×g map-side fan-out, broadcast), keeps the
    ``probes`` nearest branches (Partial WindowGroupLimit — prunes
    map-side), and runs the exact argmin only against those branches'
    centroids: ×(probes·k/g) expected fan-out. With g = ⌈√k⌉ the
    per-vector cost is O(√k) distances instead of O(k) — sub-quadratic
    even when k grows with the corpus (the SemDeDup paper's k≈100k over
    5B embeddings). The assignment is APPROXIMATE (a vector whose true
    centroid lives in an unprobed branch lands on the best probed one)
    but fully deterministic, so it is oracle-replayable; recall follows
    the IVF probe trade-off.

    Returns (id, embedding, cluster, dist2) — the lloyd_assign schema,
    so semdedup_flags and any other assignment consumer can swap it in.
    """
    from pyspark.sql import Window

    seeds = centroids.filter(F.col("cluster") < groups).select(
        F.col("cluster").alias("grp"), F.col("cvec").alias("gvec")
    )
    # branch membership: each centroid to its nearest seed (k×g work)
    cw = Window.partitionBy("cluster").orderBy("cdist2", "grp")
    cmem = (
        centroids.crossJoin(F.broadcast(seeds))
        .select(
            "cluster",
            "cvec",
            "grp",
            l2_sq(F.col("cvec"), F.col("gvec")).alias("cdist2"),
        )
        .withColumn("rn", F.row_number().over(cw))
        .filter(F.col("rn") == 1)
        .select("cluster", "cvec", "grp")
    )
    # super-centroid = quantized branch mean (grp×dims rows)
    sup = (
        cmem.select("grp", F.posexplode("cvec").alias("dim", "x"))
        .groupBy("grp", "dim")
        .agg(
            F.sum(
                F.floor(F.col("x").cast("double") * F.lit(float(KMEANS_SCALE)))
                .cast("bigint")
            ).alias("qsum"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "grp",
            "dim",
            (
                (F.col("qsum").cast("double") / F.col("n"))
                / F.lit(float(KMEANS_SCALE))
            ).alias("val"),
        )
        .groupBy("grp")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "val"))).alias("dv"))
        .select("grp", F.col("dv.val").alias("gvec"))
    )
    # level 1: probe the `probes` nearest branches per vector
    # (fan_out: the ×g fan-out is narrow over the scan, guide §2.4)
    pw = Window.partitionBy(id_col).orderBy("gdist2", "grp")
    probed = (
        fan_out(emb).crossJoin(F.broadcast(sup))
        .select(
            id_col,
            "embedding",
            "grp",
            l2_sq(F.col("embedding"), F.col("gvec")).alias("gdist2"),
        )
        .withColumn("rn", F.row_number().over(pw))
        .filter(F.col("rn") <= probes)
        .select(id_col, "embedding", "grp")
    )
    # exact argmin within the probed branches only
    aw = Window.partitionBy(id_col).orderBy("dist2", "cluster")
    return (
        probed.join(
            F.broadcast(cmem.select("grp", "cluster", "cvec")), "grp"
        )
        .select(
            id_col,
            "embedding",
            "cluster",
            l2_sq(F.col("embedding"), F.col("cvec")).alias("dist2"),
        )
        .withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def semdedup_flags(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    assign: DataFrame | None = None,
    prune_rank_window: int | None = None,
    exact_cap: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    intra-cluster cosine pruning. Returns (id, cluster, keep ∈ {0,1}).

    Every vector is Lloyd-assigned to its nearest centroid; within each
    cluster, vectors are ranked by (dist2 to centroid ASC, id ASC) and a
    vector is DROPPED when any better-ranked cluster-mate has cosine ≥
    ``threshold`` — so exactly one representative (the closest-to-centroid)
    survives from each semantic-duplicate group, deterministically.

    Scale shape: this is the point of SemDeDup — clustering bounds the
    candidate space, so the pairwise stage is a self-join ON THE CLUSTER KEY
    (one shuffle each side), O(Σ|cluster|²) cosines instead of O(n²). At
    100 TB, k grows with the corpus to hold cluster sizes bounded (the paper
    runs k≈100k over 5B embeddings); an oversized hot cluster is AQE
    skew-join territory. The drop set is |duplicates|-sized and joins back
    broadcast-cheap. Caveat measured at ×10 scale: once k grows with n, the
    BRUTE-FORCE assignment's n×k distance fan-out becomes the dominant
    (quadratic) term before the pairwise stage does — at large k, pass
    ``assign=two_level_assign(emb, centroids, groups=⌈√k⌉)`` to keep
    assignment sub-quadratic (O(√k) distances per vector).

    ``prune_rank_window=R`` bounds the PAIRWISE stage too: the comparison
    side is capped to each cluster's R closest-to-centroid members (the
    better-ranked prefix — a row_number ≤ R filter Spark prunes map-side
    as a Partial WindowGroupLimit), so the stage pays Σ R·|cluster|
    cosines instead of Σ|cluster|²/2. Approximate-but-deterministic: a
    duplicate GROUP whose best-ranked member falls outside the top R is
    missed (SemDeDup's representative is the closest-to-centroid member,
    and duplicate groups sit at nearly equal centroid distance, so real
    groups concentrate their representative high in the ranking);
    R ≥ max|cluster| degrades to the exact prune (pytest-pinned).

    ``exact_cap=C`` makes the EXACT prune self-protecting: the paper's
    k ∝ n contract is what keeps |cluster| bounded, and the full prune
    has no in-plan guard if a hot cluster violates it (measured: 172 s
    at ×10emb, 1 100 s at ×30emb, α = 1.69 — BASELINE.md round-10 probe).
    Before the pairwise stage, a k-row census of the (already
    checkpointed) assignment reads max|cluster|; while max ≤ C the
    result is byte-identical to the unguarded exact prune (pytest-
    pinned), and when a cluster outgrows C the prune auto-degrades to
    the rank-window path with R = C — Σ C·|cluster| cosines, keeping
    every comparison an in-contract cluster would have while turning
    the growth LINEAR in cluster size (measured: α 1.69 → 1.01, ×30emb
    1 099.6 s → 302.1 s — BASELINE.md round-11). The census is one tiny
    aggregate (k rows, 1-row collect) off the same staged assignment
    every consumer joins on. Ignored when a ``prune_rank_window`` is
    already set.
    """
    # The assignment is referenced three times (pair-left, pair-right, and
    # the final flag join-back); without a lineage cut Spark re-runs the
    # broadcast-distance fan-out + argmin window per reference — three
    # corpus passes. A pin materializes it once (the staged
    # "cluster assignment" artifact a real curation pipeline would persist
    # anyway).
    if assign is None:
        assign = lloyd_assign(emb, centroids, id_col)
    a = pin(assign, eager=False)
    if prune_rank_window is None and exact_cap is not None:
        max_cluster = a.groupBy("cluster").count().agg(
            F.max("count").alias("m")
        ).first()["m"]
        if max_cluster is not None and max_cluster > exact_cap:
            prune_rank_window = exact_cap
    left = a
    if prune_rank_window is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("cluster").orderBy("dist2", id_col)
        left = (
            a.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= prune_rank_window)
            .drop("rk")
        )
    # norms attached per SIDE ROW (Σ|cluster| evaluations), not per pair
    # (Σ|cluster|²): dot/(na·nb) is the exact expression cosine() builds —
    # norm2(a)*norm2(b) — so values are bit-identical while the pairwise
    # stage pays 1 array fold per pair instead of 3 (guide §2.3; round 13)
    left = left.select(
        "cluster",
        F.col(id_col).alias("va"),
        F.col("dist2").alias("da"),
        F.col("embedding").alias("ea"),
        norm2(F.col("embedding")).alias("na"),
    )
    right = a.select(
        "cluster",
        F.col(id_col).alias("vb"),
        F.col("dist2").alias("db"),
        F.col("embedding").alias("eb"),
        norm2(F.col("embedding")).alias("nb"),
    )
    ranked_before = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("va") < F.col("vb"))
    )
    pair_cos = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    dropped = (
        left.join(right, "cluster")
        .filter(ranked_before)
        .filter(pair_cos >= F.lit(threshold))
        .select(F.col("vb").alias(id_col))
        .distinct()
    )
    return (
        a.join(dropped.withColumn("_dropped", F.lit(1)), id_col, "left")
        .select(
            id_col,
            "cluster",
            F.when(F.col("_dropped").isNull(), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("keep"),
        )
    )
