"""MLlib-backed variants of the similarity/dedup operators.

The north-star approach names "DataFrame ops + MLlib tensors"
(BASELINE.json): these entries exercise the `pyspark.ml` path — VectorUDT
columns via `array_to_vector`, `HashingTF` term vectors, `MinHashLSH` /
`BucketedRandomProjectionLSH` models — alongside the hand-rolled md5-family
operators (operators/dedup.py, operators/similarity.py) that remain the
oracle-checkable variants.

MLlib's LSH hash families are seeded JVM RNG + MurmurHash3 — deterministic
for a fixed seed but not reproducible in DuckDB SQL, so these register
rows-only (oracle=None); their behavioral contracts (planted-duplicate
recall, exact-baseline agreement) are pinned in tests/test_mllib_bridge.py
instead. Scale notes: LSH fit() is metadata-only (random hyperplanes /
coefficients — no data pass), approxSimilarityJoin shuffles by (band, hash)
bucket exactly like the hand-rolled variants, and approxNearestNeighbors
broadcasts the probe key — the same 100 TB shapes, JVM-side.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gridiron_spark.io.tables import load_table, pin
from gridiron_spark.queries import register

_SEED = 42


def _shingled(spark, doc):
    """(doc_id, shingles): distinct word 3-grams per document, as the array
    HashingTF consumes. Tokens are materialized in their OWN projection
    before the gram transform (round 14, guide §4/§2.3): codegen does no
    common-subexpression elimination inside higher-order-lambda bodies, so
    the inline form re-ran split(lower(text)) for every element_at — three
    per gram, ~300 per doc (measured 5.15 s → 0.52 s for the shingle
    stage at sf0.1; the same pathology shingle_rows note 2 and
    model_gate_agg document). CollapseProject keeps the barrier because
    the split alias is referenced more than once and is non-cheap."""
    toksed = doc.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("toks")
    )
    toks = F.col("toks")
    grams = F.when(
        F.size(toks) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                    F.element_at(toks, i + 3),
                ),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return toksed.select("doc_id", grams.alias("shingles")).repartition(
        spark.sparkContext.defaultParallelism
    )


def _vectors(spark, sf_dir):
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )


@register(
    "mllib_ann_brp_topk",
    survey="NS-sim(MLlib BucketedRandomProjectionLSH ANN — the pyspark.ml path)",
    oracle=None,  # seeded JVM hyperplanes are not DuckDB-reproducible
)
def mllib_ann_brp_topk(spark, sf_dir):
    """Top-10 neighbors of query vector 0 via MLlib's
    BucketedRandomProjectionLSH (euclidean). fit() draws seeded random
    projections (no data pass); approxNearestNeighbors probes the model's
    hash buckets and only computes exact distances inside them. Distances
    are exact euclidean on the candidates, so output ordering is stable for
    the fixed seed; tests pin recall against the exact cosine baseline."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    vec = _vectors(spark, sf_dir)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        seed=_SEED,
        bucketLength=2.0,
        numHashTables=6,
    )
    model = lsh.fit(vec)
    key = vec.filter(F.col("vec_id") == 0).first()["features"]
    out = model.approxNearestNeighbors(
        vec.filter(F.col("vec_id") != 0), key, 10, distCol="dist"
    )
    return out.select(
        "vec_id", "label", F.round(F.col("dist"), 6).alias("dist")
    ).orderBy("dist", "vec_id")


@register(
    "mllib_minhash_sim_join",
    survey="NS-dedup(MLlib MinHashLSH approxSimilarityJoin — the pyspark.ml path)",
    oracle=None,
)
def mllib_minhash_sim_join(spark, sf_dir):
    """Near-dup candidate pairs via MLlib MinHashLSH over HashingTF shingle
    vectors — the stock-MLlib formulation of dedup_minhash_lsh. HashingTF
    maps each doc's word 3-gram set into a sparse 2^18 binary vector (pure
    map-side); MinHashLSH(seed) fit() draws hash coefficients (no data
    pass); approxSimilarityJoin blocks on shared minhash buckets and
    computes EXACT Jaccard distance only on candidates — the same
    candidate-then-verify shape as the md5-family variant, so identical
    docs (identical vectors ⇒ identical buckets) are found with recall 1.0
    by construction. Emits (doc_a, doc_b) at Jaccard distance ≤ 0.6.

    Performance lesson, measured in three steps: the naive form reads
    11-21 s at sf0.1 and stays ~14 s on a 1-in-3 subset — so NOT candidate
    volume. Root cause is the repo's recurring no-CSE-under-explode
    pathology (shingle_rows note 2): approxSimilarityJoin explodes the
    hash tables internally, and projection collapse re-evaluates the whole
    shingle → HashingTF → 8-table minhash UDF chain once per exploded row
    (8×/doc). The fix is a pin barrier on the featurized frame
    (plus fanning the single-file scan out to all cores): ~6 s per fresh
    invocation (re-featurizing included), ~1 s with features warm — the
    join itself was never the problem. What remains structural
    vs the md5-family generator: OR-of-single-hash blocking
    (P(candidate) = 1-(1-J)^tables, no AND-banding) and full sparse
    vectors riding the candidate shuffle — at 100 TB band the hash columns
    first (mllib_minhash_banded) and verify on keys."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    doc = load_table(spark, sf_dir, "documents")
    shingled = _shingled(spark, doc)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )
    # the barrier: without it, approxSimilarityJoin's internal posexplode
    # re-evaluates the whole shingle→TF→minhash chain per exploded row.
    # Project to (doc_id, features) FIRST (guide §2.3): a checkpoint pins
    # every column it carries and approxSimilarityJoin ships whole rows
    # through its exploded candidate shuffle — without the select, each
    # side's shingle arrays (the widest column, unused downstream) ride
    # both the checkpoint and the hash-bucket exchange.
    feats = pin(
        tf.transform(shingled)
        .select("doc_id", "features"),
        eager=False,
    )
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", seed=_SEED, numHashTables=8
    )
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.6, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(F.col("jaccard_dist"), 6).alias("jaccard_dist"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "mllib_minhash_banded",
    survey="NS-dedup(MLlib hash family + manual AND-banding — the 100 TB fix)",
    oracle=None,
)
def mllib_minhash_banded(spark, sf_dir):
    """The scale fix mllib_minhash_sim_join's docstring prescribes,
    implemented: keep MLlib's MinHash family (model.transform emits the 8
    per-table hash values) but AND-band them 2×4 BEFORE any join, so
    candidates need a full 4-hash band to agree (P = 1-(1-J⁴)²) instead of
    any single hash (P = 1-(1-J)⁸), and the join moves 32-byte band keys
    instead of full sparse vectors. Verification is exact set-Jaccard on
    the word shingles, computed only for candidates. Output schema matches
    the stock entry; its pair set is a subset of the stock one — the
    candidate half is a theorem (a band match implies every component hash
    matched ⇒ the OR condition held), the distance half (set-dist ≤ 0.5 ⇒
    vector-dist ≤ 0.6) holds unless a 2^-18-rate feature collision merges
    SHARED shingles, so it is pinned empirically in test_mllib_bridge.
    Like the stock entry, the hashed frame is checkpoint-barriered before
    the explode (the no-CSE-under-explode pathology); past that, banding
    is what keeps the JOIN linear-ish when the corpus — unlike this one —
    has enough volume for OR-blocked candidates to dominate."""
    from pyspark.ml.feature import HashingTF, MinHashLSH
    from pyspark.ml.functions import vector_to_array

    doc = load_table(spark, sf_dir, "documents")
    # one materialization of the shingle derivation feeds BOTH the hash
    # pipeline and the verification joins below (it is referenced 3×)
    shingled = pin(_shingled(spark, doc), eager=False)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feats = tf.transform(shingled)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", seed=_SEED, numHashTables=8
    ).fit(feats)
    # barrier before the posexplode below — see mllib_minhash_sim_join.
    # Project to (doc_id, hashes) first (guide §2.3): the banding below
    # needs neither the 2^18-dim sparse vectors nor the shingle arrays,
    # and a checkpoint pins every column it carries — without the select
    # both rode the pinned blocks and the explode.
    hashed = pin(
        model.transform(feats)
        .select("doc_id", "hashes"),
        eager=False,
    )
    # hashes: array of 8 one-element vectors -> 8 bigints, banded 2×4
    hv = hashed.select(
        "doc_id",
        F.posexplode("hashes").alias("pos", "h"),
    ).select(
        "doc_id",
        (F.col("pos") / 4).cast("int").alias("band_idx"),
        "pos",
        vector_to_array(F.col("h")).getItem(0).cast("bigint").alias("hval"),
    )
    banded = hv.groupBy("doc_id", "band_idx").agg(
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("pos"), F.col("hval")))
                    ),
                    lambda s: s["hval"].cast("string"),
                ),
            )
        ).alias("band_key")
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
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh = shingled.select(F.col("doc_id"), F.col("shingles"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.size(F.col("sa")) + F.size(F.col("sb")) - inter
    return (
        cand.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(F.lit(1.0) - inter.cast("double") / union, 6).alias(
                "jaccard_dist"
            ),
        )
        .filter(F.col("jaccard_dist") <= 0.5)
        .orderBy("doc_a", "doc_b")
    )
