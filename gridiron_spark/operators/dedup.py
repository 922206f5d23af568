"""Near-duplicate detection operators: MinHash+LSH, SimHash, n-gram Jaccard.

All engine logic is built-in Column expressions over token arrays — JVM-side,
codegen-friendly, zero Python UDFs. Two design choices make these operators
*deterministic and oracle-checkable*, which approximate dedup usually is not:

1. **Hash family = md5 strings under lexicographic min.** A MinHash family
   needs k independent uniform hashes; ``md5(shingle || '|' || i)`` compared
   lexicographically is exactly that (uniform over hex strings), and it
   evaluates identically in any engine with md5 — no engine-private hash
   (xxhash64, Murmur) whose output could never cross-check.
2. **LSH is a *candidate generator*, Jaccard is the *truth*.** Band-bucket
   collisions only propose pairs; every pair is verified with exact Jaccard
   over distinct shingle sets, so the emitted (pair, score) rows are exact
   values regardless of banding.

Scale shape (100 TB): shingle/signature computation is map-only; banding
explodes ×n_bands; the candidate self-join shuffles on (band_idx, band_key) —
bounded by bucket sizes, and hot buckets (boilerplate shingles) are the skew
risk: AQE skew-join handles moderate cases, `max_bucket` hard-caps
pathological ones (trades recall for runtime, disclosed in the plan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gridiron_spark.functions.vectors import matches
from gridiron_spark.io.tables import observed_pin, pin


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-grams of lower(text); documents shorter than k words
    contribute their whole text as a single shingle."""
    toks = F.split(F.lower(text), " ")
    grams = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return F.array_distinct(grams)


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """k-element MinHash signature: per hash i, the lexicographic min of
    md5(shingle || '|i') over the shingle set."""
    return F.array(
        *[
            F.array_min(
                F.transform(shingles, lambda s, i=i: F.md5(F.concat(s, F.lit(f"|{i}"))))
            )
            for i in range(num_hashes)
        ]
    )


def band_keys(signature: Column, bands: int, rows: int) -> Column:
    """LSH banding: hash each contiguous ``rows``-slice of the signature."""
    return F.array(
        *[
            F.md5(F.concat_ws("|", F.slice(signature, b * rows + 1, rows)))
            for b in range(bands)
        ]
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over (already-distinct) arrays."""
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(F.array_union(a, b))


def shingle_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """Exploded distinct (doc_id, shingle) rows — the shared base for every
    shingle aggregate. Two deliberate plan choices, both measured:

    1. Exploding once and aggregating beats per-row array expressions: the
       shuffle materializes each md5 exactly once, where nested array
       expressions get re-evaluated per reference (projection collapsing
       inlines the fingerprint expression into every band and join side).
    2. Shingles are assembled token-row-wise (posexplode + lead window), not
       with F.transform over the token array: codegen does no common-
       subexpression elimination inside lambda bodies, so the transform form
       re-runs split(lower(text)) for every shingle (~50× per doc — 6.1s vs
       1.5s on the sf0.1 corpus). The window shuffles token rows by doc_id —
       linear, partial-agg-friendly, and skew-free (docs are bounded).

    fan_out (round 13): split + posexplode are narrow, so a single-file
    document scan tokenizes the whole corpus on ONE core before the window
    shuffle spreads it (guide §2.4); the round-robin of the compact
    pre-explode rows is a no-op at scale (io.tables.fan_out guard).
    """
    from pyspark.sql import Window

    from gridiron_spark.io.tables import fan_out

    toks = fan_out(docs).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.col(text_col)), " ").alias("toks"),
    )
    exploded = toks.filter(F.size("toks") >= k).select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        exploded.select(
            "doc_id",
            F.concat_ws(
                " ", F.col("tok"), *[F.lead("tok", j).over(w) for j in range(1, k)]
            ).alias("shingle"),
            F.lead("tok", k - 1).over(w).alias("_tail"),
        )
        .filter(F.col("_tail").isNotNull())
        .select("doc_id", "shingle")
    )
    short = toks.filter(F.size("toks") < k).select(
        "doc_id", F.concat_ws(" ", "toks").alias("shingle")
    )
    rows = grams.unionByName(short)
    # distinct=False skips the (doc_id, shingle) dedup shuffle — correct when
    # the consumer is itself duplicate-insensitive (COUNT(DISTINCT …) after a
    # join), which turns the whole pre-join pipeline map-side-only.
    return rows.dropDuplicates(["doc_id", "shingle"]) if distinct else rows


def minhash_signature_df(
    shingles: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """(doc_id, sig array<string>) via grouped min — partial (map-side)
    aggregation makes this one bounded shuffle on doc_id."""
    mins = [
        F.min(F.md5(F.concat(F.col("shingle"), F.lit(f"|{i}")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    agg = shingles.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def simhash_df(shingles: DataFrame, bits: int = 32) -> DataFrame:
    """(doc_id, simhash bigint) via grouped per-bit vote sums — identical
    values to :func:`simhash32`, linear plan shape (one md5 per shingle, one
    shuffle), vs the scalar form's per-reference re-evaluation."""
    h = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("bigint")
    votes = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"t{b}")
        for b in range(bits)
    ]
    agg = shingles.groupBy("doc_id").agg(*votes)
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"t{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fp = term if fp is None else fp + term
    return agg.select("doc_id", fp.alias("simhash"))


def pair_intersection_counts(
    shingles: DataFrame, candidates: DataFrame | None = None
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs sharing ≥1 shingle.

    Unrestricted variant: count-based — |A∩B| is the row count of the
    inverted-index self-join per pair, |A∪B| = |A|+|B|-|A∩B| from per-doc
    sizes; shingle sets never travel through the pair shuffle (carrying
    the arrays and deduplicating wide rows was the measured bottleneck
    when the PAIR SET itself comes from the exploded join). It indexes
    every shingle (hot shingles fan out quadratically — AQE skew-join
    territory); at scale generate candidates with
    :func:`prefix_filtered_pairs` instead, which indexes only each doc's
    globally-rarest shingles with identical output.

    With ``candidates`` (doc_a, doc_b), only those pairs are scored, and
    the verifier switches to set form: re-assemble each doc's (distinct)
    shingle array once and score candidates with ``array_intersect`` —
    two attach joins and zero aggregations, vs the count-based form's
    candidate×shingle explode + pair aggregate + two size joins (round
    14, guide §2.3/§2.4: 3.70 s → 2.53 s on the prefix entry, bit-equal
    jaccard since both divide the same exact integers). Every current
    generator (LSH band collision, AllPairs prefix) guarantees a shared
    shingle, so the count form's implicit drop of zero-intersection
    pairs is vacuous — the jaccard-0 rows the set form keeps are
    filtered by every caller's threshold.
    """
    if candidates is not None:
        sets = shingles.groupBy("doc_id").agg(
            F.collect_list("shingle").alias("arr")
        )
        inter = F.size(F.array_intersect("sa", "sb"))
        return (
            candidates.select("doc_a", "doc_b")
            .join(
                sets.select(
                    F.col("doc_id").alias("doc_a"), F.col("arr").alias("sa")
                ),
                "doc_a",
            )
            .join(
                sets.select(
                    F.col("doc_id").alias("doc_b"), F.col("arr").alias("sb")
                ),
                "doc_b",
            )
            .select(
                "doc_a",
                "doc_b",
                (
                    inter.cast("double")
                    / (F.size("sa") + F.size("sb") - inter)
                ).alias("jaccard"),
            )
        )
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    pair_counts = (
        shingles.alias("a")
        .join(
            shingles.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        pair_counts.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("sz", "sz_a")
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "sz", "sz_b"
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("c").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("c"))
            ).alias("jaccard"),
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH with exact-Jaccard verification.

    Returns (doc_a, doc_b, jaccard) for every candidate pair sharing at least
    one LSH band whose true shingle-set Jaccard ≥ threshold, doc_a < doc_b.
    """
    rows = num_hashes // bands
    sh = shingle_rows(docs, id_col, text_col, shingle_k)
    sig = minhash_signature_df(sh, num_hashes)
    banded = sig.select(
        "doc_id",
        F.posexplode(band_keys(F.col("sig"), bands, rows)).alias("band_idx", "band_key"),
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
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # exact verification restricted to the candidate pairs, in the set form
    # (a band collision with zero shared shingles scores jaccard 0, which
    # the threshold drops)
    return (
        pair_intersection_counts(sh, candidates=cand)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs via shared-shingle blocking.

    Inverted-index join: only pairs sharing ≥1 shingle are scored (a pair with
    no shared shingle has Jaccard 0, so blocking loses nothing). The exploded
    join shuffles on the shingle value — the exact-recall counterpart to the
    MinHash candidate generator.
    """
    sh = shingle_rows(docs, id_col, text_col, shingle_k)
    return pair_intersection_counts(sh).filter(F.col("jaccard") >= threshold)


def prefix_filtered_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact n-gram-Jaccard pairs via AllPairs/PPJoin prefix filtering —
    the 100 TB form of :func:`ngram_jaccard_pairs`, identical output.

    Order the shingle universe globally by (document frequency asc, shingle
    asc) and index only each doc's first ``|d| - ceil(t*|d|) + 1`` shingles
    under that order. The AllPairs theorem (Bayardo et al., WWW'07):
    J(x, y) >= t implies the two prefixes share at least one shingle, so
    candidate recall is exactly 1.0 and the verified result equals the
    full inverted-index join — which is what the pytest equality check and
    the shared oracle pin.

    Scale shape: the inverted index shrinks from every (doc, shingle) row to
    the ~(1-t) rarest per doc, and — decisively — the *hottest* shingles are
    exactly the ones the frequency order pushes out of prefixes, so the
    self-join's per-bucket fan-out is capped by construction rather than by
    AQE skew handling after the fact. A doc-size length filter
    (min >= t * max, implied by J >= t) prunes cross-size pairs before
    verification. Extra cost: one global frequency aggregate (map-side
    combinable) and one rank window per doc — both linear.

    The exploded shingle rows are pinned (lazy :func:`pin`): this DAG
    references them ~6× (sizes, frequencies, prefix ranking,
    verification). Round 12 measured a MEMORY_AND_DISK persist LOSING to
    recompute at sf0.1 (6.7 s vs 5.3 s); round 14 re-measured under the
    64k AQE floor + fan_out with a localCheckpoint instead and the trade
    flipped hard (full pipeline solo medians at sf0.1: 8.20 s unpinned →
    4.09 s pinned — each of the 6 shingle re-derivations paid a scan +
    window + distinct). At 100 TB the pin is |corpus|×~shingles rows of
    (id, 3-gram) — the thing a production run materializes to a staged
    side-car anyway.
    """
    from pyspark.sql import Window

    sh = pin(shingle_rows(docs, id_col, text_col, shingle_k), eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    prefix = (
        sh.join(freq, "shingle")
        .join(sizes, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        # the 1e-9 slack biases double rounding toward a *longer* prefix
        # (extra candidates, never lost recall) when t*sz is integral
        .filter(
            F.col("rn")
            <= F.col("sz")
            - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9))
            + 1
        )
        .select("doc_id", "shingle", "sz")
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: J >= t forces min(|A|,|B|) >= t * max(|A|,|B|)
            & (
                F.least("a.sz", "b.sz")
                >= F.lit(threshold) * F.greatest("a.sz", "b.sz") - F.lit(1e-9)
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        pair_intersection_counts(sh, candidates=cand)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """(doc_id, cluster_id) for every node in the pair graph — min-label
    propagation to a fixpoint. This is the *cluster assignment* step a dedup
    pipeline needs after pair generation (keep one doc per cluster).

    Iterative dataflow done Spark-style: each round is one join + one
    min-aggregate over the (bounded) frontier, pinned by
    :func:`observed_pin` with the label sum observed: labels only fall over
    a fixed node set, so an unchanged sum is an exact fixpoint test, and
    none within ``max_iter`` rounds raises. Diameter bounds iterations —
    near-dup graphs are shallow (duplicate clusters, not long chains). At
    100 TB scale swap the naive propagation for the large-star/small-star
    algorithm (same fixpoint, provably fewer rounds); the result contract
    is identical, which is what the oracle (recursive-CTE transitive
    closure) checks.
    """
    # pin each round: iterative algorithms re-execute their full upstream
    # lineage on EVERY action otherwise (each round would re-run pair
    # generation — measured 14s → 3s on the sf0.1 corpus).
    edges = pin(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
    )
    label_sum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    labels, before = observed_pin(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        label_sum,
    )
    for _ in range(max_iter):
        prop = (
            edges.join(labels, edges["src"] == labels["node"])
            .select(F.col("dst").alias("node"), "label")
        )
        labels, after = observed_pin(
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label")),
            label_sum,
        )
        if after == before:
            break
        before = after
    else:
        raise RuntimeError(f"connected_components: no fixpoint within max_iter={max_iter}")
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """(doc_id, cluster_id) via alternating large-star/small-star rounds —
    the O(log² n)-round connected-components algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14), the scale form
    of :func:`connected_components` with the identical fixpoint contract.

    Each round is two grouped-min passes over the current edge set:

    - **large-star**: per node u, hook every strictly-larger neighbor to
      ``m(u) = min(N(u) ∪ {u})`` — halves the depth of tall subtrees;
    - **small-star**: per node u (edges oriented small→large), hook u and its
      smaller neighbors to the minimum — flattens what large-star hooked.

    Both emit edges pointing at per-neighborhood minima, so the edge count
    never grows and components converge to stars rooted at their global
    minimum in O(log² n) rounds vs the naive propagation's O(diameter) —
    the difference that matters on long chains (path graphs converge in ~7
    rounds at n=100 where min-label needs 99). Per round: two shuffles
    (groupBy u, then join), and an :func:`observed_pin` that cuts the
    lineage and fingerprints the new edge set. Nodes come from all pairs,
    self-pairs included, as in the min-label form.
    """
    uv = pin(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")).distinct()
    )
    all_nodes = uv.select(F.explode(F.array("u", "v")).alias("node")).distinct()
    # Convergence: an order-independent set fingerprint (count + bit_xor of
    # xxhash64) rides each round's pin; only when two consecutive
    # fingerprints agree does ONE exact set-difference pass confirm (so a
    # hash collision can delay convergence detection, never fake it).
    fingerprint = (F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("u", "v")).alias("h"))
    edges, fp = observed_pin(uv.filter(F.col("u") != F.col("v")), *fingerprint)

    def _large_star(e: DataFrame) -> DataFrame:
        adj = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            adj.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        # no trailing distinct: the follow-up small-star round re-orients
        # with greatest/least and dedups immediately, so a distinct here is
        # a pure extra shuffle (duplicate inflation between the stages is
        # bounded at 2|E| and every dup maps to the same output edge).
        return (
            adj.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # orient each edge toward its larger endpoint: (u=hi, v=lo)
        directed = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = directed.groupBy("u").agg(F.min("v").alias("m"))
        hooked = (
            directed.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins.select("u", F.col("m").alias("v")))
        )
        return hooked.filter(F.col("u") != F.col("v")).distinct()

    for _ in range(max_iter):
        new_edges, new_fp = observed_pin(_small_star(_large_star(edges)), *fingerprint)
        stable = new_fp == fp and (
            new_edges.exceptAll(edges)
            .unionByName(edges.exceptAll(new_edges))
            .limit(1)
            .count()
            == 0
        )
        edges, fp = new_edges, new_fp
        if stable:
            break
    else:
        raise RuntimeError(f"connected_components_star: no fixpoint within max_iter={max_iter}")
    # fixpoint edges are star edges (node -> component root); roots label
    # themselves. The min-agg keeps one label per node.
    labels = (
        edges.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
        .groupBy("doc_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    roots = all_nodes.join(
        labels, all_nodes["node"] == labels["doc_id"], "left_anti"
    ).select(F.col("node").alias("doc_id"), F.col("node").alias("cluster_id"))
    return labels.unionByName(roots)


def simhash32(text: Column, shingle_k: int = 3) -> Column:
    """32-bit SimHash over the word-shingle set, as a bigint.

    Per shingle, a 32-bit hash is carved from the first 8 md5 hex chars
    (cross-engine: any SQL engine reproduces hex→int; an engine-private hash
    like xxhash64 could never cross-check); each bit votes ±1; the sign of
    each bit-position total forms the fingerprint. Near-duplicate texts
    differ in few bit positions (small Hamming distance).

    Shingles, not raw tokens: over a small shared vocabulary the distinct
    *token sets* of unrelated documents collide heavily (measured on the
    test corpus: 271 distinct token-level fingerprints across 500 docs vs
    497 shingle-level), so k-gram features are required for the fingerprint
    to discriminate. Pure expression algebra — JVM-side, no UDFs.
    """
    shingles = word_shingles(text, shingle_k)
    hashes = F.transform(
        shingles, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
    )
    # per-bit ±1 vote totals over all shingles; bit index is a plan-time
    # constant (Python loop), letting shiftright take its int fast path.
    # NB: the closure must stay 2-argument — pyspark binds one lambda
    # variable per parameter, so a `b=b` default would become a third
    # lambda variable, not a captured constant.
    def _vote(b: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    fingerprint = F.lit(0).cast("bigint")
    for b in range(32):
        total_b = F.aggregate(hashes, F.lit(0), _vote(b))
        fingerprint = fingerprint + F.when(total_b > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return fingerprint


def hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two fingerprints (popcount via bit_count)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash band-blocking + exact Hamming verify.

    The 32-bit fingerprint is split into ``bands`` contiguous bit-slices; only
    pairs sharing at least one identical slice are compared. With 4 bands of
    8 bits, any pair at Hamming distance ≤ 3 damages at most 3 slices, so at
    least one slice survives intact — **recall is exactly 1.0 for
    max_hamming ≤ bands - 1**, making the blocked result identical to the
    quadratic scan (and oracle-checkable). The self-join shuffles on
    (band_idx, band_val): bounded bucket sizes, no O(n²) pass.
    """
    width = 32 // bands
    fp = simhash_df(shingle_rows(docs, id_col, text_col, shingle_k)).withColumnRenamed(
        "simhash", "fp"
    )
    banded = fp.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col("fp"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("band_val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "fp", "band.band_idx", "band.band_val")
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        cand.withColumn("hamming", hamming(F.col("fp_a"), F.col("fp_b")).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def incremental_minhash_flags(
    corpus_sig: DataFrame,
    batch_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Incremental near-dup screening: a new batch against a corpus whose
    MinHash signatures are ALREADY materialized (side-car table, computed
    once at ingest) — the production shape that avoids re-shingling the
    whole lake for every arriving batch.

    Only the batch is shingled and signed; the corpus contributes nothing
    but its (doc_id, sig) rows. Candidates come from LSH band collisions
    (batch×corpus plus earlier-batch×batch), and similarity is ESTIMATED
    from the signatures themselves — matching-component fraction, a k/num_hashes
    grid that is bit-exact cross-engine — so no corpus text is ever
    touched. Returns one row per batch doc: (doc_id, n_matches,
    min_partner, max_est); n_matches = 0 means keep.

    Scale: corpus signatures are |corpus| × num_hashes md5 strings —
    ~1000× smaller than text; the band join shuffles band keys only; the
    estimate join moves signatures for candidate pairs only.
    """
    rows = num_hashes // bands
    batch_sig = minhash_signature_df(
        shingle_rows(batch_docs, id_col, text_col, shingle_k), num_hashes
    )
    all_sig = (
        corpus_sig.select("doc_id", "sig")
        .withColumn("is_batch", F.lit(False))
        .unionByName(
            batch_sig.select("doc_id", "sig").withColumn(
                "is_batch", F.lit(True)
            )
        )
    )
    batch_ids = batch_docs.select(F.col(id_col).alias("doc_id"))

    def _banded(sig_df: DataFrame, extra: list[str]) -> DataFrame:
        return sig_df.select(
            "doc_id",
            *extra,
            F.posexplode(band_keys(F.col("sig"), bands, rows)).alias(
                "band_idx", "band_key"
            ),
        )

    bb = _banded(batch_sig, []).alias("b")
    bp = _banded(all_sig, ["is_batch"]).alias("p")
    cand = (
        bb.join(
            bp,
            (F.col("b.band_idx") == F.col("p.band_idx"))
            & (F.col("b.band_key") == F.col("p.band_key"))
            & (F.col("p.doc_id") != F.col("b.doc_id")),
        )
        # batch-vs-batch pairs count once (earlier doc wins); corpus
        # partners always count
        .filter(~F.col("p.is_batch") | (F.col("p.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("b.doc_id").alias("bid"), F.col("p.doc_id").alias("pid")
        )
        .dropDuplicates(["bid", "pid"])
    )
    est = (
        cand.join(batch_sig.select(F.col("doc_id").alias("bid"), F.col("sig").alias("sb")), "bid")
        .join(all_sig.select(F.col("doc_id").alias("pid"), F.col("sig").alias("sp")), "pid")
        .select(
            "bid",
            "pid",
            (matches("sb", "sp") / F.lit(float(num_hashes))).alias(
                "est_jaccard"
            ),
        )
    )
    hits = (
        est.filter(F.col("est_jaccard") >= threshold)
        .groupBy("bid")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("pid").alias("min_partner"),
            F.max("est_jaccard").alias("max_est"),
        )
    )
    return (
        batch_ids.join(hits, batch_ids["doc_id"] == hits["bid"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_matches"), F.lit(0)).alias("n_matches"),
            "min_partner",
            "max_est",
        )
    )


def positional_grams(
    docs: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, pos, gram) — every k-token span WITH its 0-based start
    position (shingle_rows drops positions; substring-level dedup needs
    them to reconstruct coverage intervals). Same plan as shingle_rows:
    posexplode + lead window, one linear by-doc_id shuffle; docs shorter
    than k contribute no spans (there is no k-token substring to match).
    fan_out as in shingle_rows: parallelize the narrow tokenize+explode."""
    from pyspark.sql import Window

    from gridiron_spark.io.tables import fan_out

    toks = fan_out(docs).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.col(text_col)), " ").alias("toks"),
    )
    exploded = toks.filter(F.size("toks") >= k).select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        exploded.select(
            "doc_id",
            "pos",
            F.concat_ws(
                " ", F.col("tok"), *[F.lead("tok", j).over(w) for j in range(1, k)]
            ).alias("gram"),
            F.lead("tok", k - 1).over(w).alias("_tail"),
        )
        .filter(F.col("_tail").isNotNull())
        .select("doc_id", "pos", "gram")
    )


def dup_span_coverage_stats(docs: DataFrame, k: int) -> DataFrame:
    """Substring-level exact dedup measurement (Lee et al. 2022 style):
    per document, how many tokens are covered by some k-token span that
    occurs ≥2 times anywhere in the corpus (incl. within the same doc).

    Plan: positional gram stream (linear) → global gram count (map-side
    combined; the ≥2 filter shrinks it to the duplicated-span set, which is
    overlap-sized, not corpus-sized) → join back → per-doc interval union
    via two windows on doc_id (corpus-cardinality key: scales) → coverage
    fraction against the doc's token count. Interval union, not position
    count: overlapping spans must not double-count covered tokens.
    """
    from pyspark.sql import Window

    grams = positional_grams(docs, k)
    dup = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("gram")
    )
    hits = grams.join(dup, "gram").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.select(
        "doc_id",
        "pos",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1)
        .otherwise(0)
        .alias("new_island"),
    ).withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_doc = (
        islands.groupBy("doc_id", "island")
        .agg(
            (F.max(F.col("pos") + k) - F.min("pos")).alias("covered"),
            F.count(F.lit(1)).alias("n_pos"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("covered").alias("covered_tokens"),
            F.sum("n_pos").alias("n_dup_positions"),
        )
    )
    totals = docs.select(
        "doc_id", F.size(F.split(F.lower("text"), " ")).alias("n_tokens")
    )
    return (
        totals.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_positions", F.lit(0)).alias("n_dup_positions"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            (
                F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tokens")
            ).alias("dup_coverage_frac"),
            (
                F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tokens")
                < 0.5
            ).alias("keep"),
        )
    )


def containment_prefix_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact shingle-set CONTAINMENT pairs: every ordered (contained,
    container) pair with |A∩B| / |A| ≥ threshold, A ≠ B.

    Containment is the asymmetric cousin of Jaccard and catches what a
    Jaccard threshold structurally cannot: a short excerpt quoted inside a
    much longer document has tiny Jaccard (|A∩B|/|A∪B| ≈ |A|/|B|) but
    containment ≈ 1 — the quote/excerpt duplication mode in web corpora.

    Candidate generation adapts AllPairs prefix filtering (Bayardo et al.,
    WWW'07, overlap form) to the asymmetric predicate: containment ≥ t
    means overlap ≥ ⌈t·|A|⌉, so under a global (df asc, shingle asc)
    shingle order the first |A| − ⌈t·|A|⌉ + 1 shingles of the CONTAINED
    side must intersect the container's FULL set — index prefixes on the
    contained side only, the full inverted index on the container side,
    and recall is exactly 1. The size filter |B| ≥ ⌈t·|A|⌉ (overlap can't
    exceed |B|) prunes before verification. The contained-side prefix is
    ~(1−t) of each doc's RAREST shingles, so hot-shingle buckets fan out
    as (tiny prefix count) × (full count) — linear in the full index, not
    quadratic in it.

    The exploded shingle rows are pinned once (lazy :func:`pin`) for the
    ~5 references below — the same round-14 re-measured trade as
    :func:`prefix_filtered_pairs`.
    """
    from pyspark.sql import Window

    sh = pin(shingle_rows(docs, id_col, text_col, shingle_k), eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    # contained-side prefix: |A| - ceil(t*|A|) + 1 rarest shingles
    prefix = (
        sh.join(freq, "shingle")
        .join(sizes, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("sz")
            - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9))
            + 1
        )
        .select(
            F.col("doc_id").alias("doc_in"),
            "shingle",
            F.col("sz").alias("sz_in"),
        )
    )
    full = sh.join(sizes, "doc_id").select(
        F.col("doc_id").alias("doc_out"), "shingle", F.col("sz").alias("sz_out")
    )
    cand = (
        prefix.join(
            full,
            (prefix.shingle == full.shingle)
            & (F.col("doc_in") != F.col("doc_out"))
            # overlap <= |B|: containment >= t forces |B| >= ceil(t*|A|)
            & (
                F.col("sz_out")
                >= F.ceil(F.lit(threshold) * F.col("sz_in") - F.lit(1e-9))
            ),
        )
        .select("doc_in", "doc_out")
        .dropDuplicates(["doc_in", "doc_out"])
    )
    # set-form verification (round 14, guide §2.3/§2.4): re-assemble each
    # doc's distinct shingle array once and score candidates with
    # array_intersect — two attach joins, no candidate×shingle explode, no
    # pair aggregate, and sizes come free as size(arr). Exact integers
    # either way, and every candidate shares ≥1 prefix shingle, so the
    # exploded form's implicit drop of zero-intersection pairs is vacuous.
    sets = sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("arr"))
    return (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_in"), F.col("arr").alias("_sa")
            ),
            "doc_in",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_out"), F.col("arr").alias("_sb")
            ),
            "doc_out",
        )
        .select(
            "doc_in",
            "doc_out",
            F.size(F.array_intersect("_sa", "_sb"))
            .cast("bigint")
            .alias("inter"),
            F.size("_sa").cast("bigint").alias("sz_in"),
            F.size("_sb").cast("bigint").alias("sz_out"),
        )
        .withColumn("cont_pct", F.expr("inter * 100 div sz_in"))
        .filter(F.col("cont_pct") >= F.lit(int(round(threshold * 100))))
        .select("doc_in", "doc_out", "inter", "sz_in", "sz_out", "cont_pct")
    )
