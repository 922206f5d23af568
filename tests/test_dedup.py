"""Near-duplicate operator properties on the planted-dup documents corpus.

The sf0.01 corpus has 25 planted near-dup pairs (Jaccard ≈ 0.99) against a
background of ≈ 0.02 — threshold 0.5 separates them exactly. Value-level
cross-engine equality is covered by test_oracle_parity; here we assert the
*semantic* properties: recall/precision of each blocking scheme and the
internal consistency between exact and approximate variants.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gridiron_spark.io.tables import load_table
from gridiron_spark.operators.dedup import (
    jaccard,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    word_shingles,
)
from gridiron_spark.operators.similarity import embedding_near_pairs, srp_signs
from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_ORACLE, "documents").cache()


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def test_ngram_jaccard_is_exact(spark, docs):
    """Inverted-index blocking loses nothing: equals the quadratic scan."""
    blocked = _pairs(ngram_jaccard_pairs(docs, threshold=0.5))
    sh = docs.select("doc_id", word_shingles(F.col("text")).alias("s"))
    brute = (
        sh.alias("a")
        .join(sh.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jaccard(F.col("a.s"), F.col("b.s")).alias("j"),
        )
        .filter(F.col("j") >= 0.5)
    )
    assert blocked == _pairs(brute)
    assert len(blocked) == 25  # the planted pairs


def test_minhash_lsh_recall_on_planted_pairs(spark, docs):
    """At J≈0.99 every band collides — LSH recall on planted dups is 1.0,
    and exact-Jaccard verification keeps precision at 1.0."""
    lsh = _pairs(minhash_lsh_pairs(docs, threshold=0.5))
    exact = _pairs(ngram_jaccard_pairs(docs, threshold=0.5))
    assert lsh == exact


def test_simhash_banding_equals_quadratic_scan(spark, docs):
    """Hamming ≤ 3 with 4 bands: ≥1 band intact ⇒ blocked == brute force."""
    from gridiron_spark.operators.dedup import hamming, simhash32

    blocked = {(r.doc_a, r.doc_b): r.hamming for r in simhash_near_pairs(docs).collect()}
    fp = docs.select("doc_id", simhash32(F.col("text")).alias("fp"))
    brute = (
        fp.alias("a")
        .join(fp.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming(F.col("a.fp"), F.col("b.fp")).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )
    assert blocked == {(r.doc_a, r.doc_b): r.hamming for r in brute.collect()}
    # simhash finds (most of) the planted dups, none at distance > threshold
    exact = _pairs(ngram_jaccard_pairs(docs, threshold=0.5))
    assert len(set(blocked) & exact) >= 15


def test_winnow_fingerprints_overlap_for_near_dups(spark, docs):
    """Winnowing guarantee in practice: planted near-dup pairs (J≈0.99)
    share the large majority of fingerprints; random pairs share few."""
    from gridiron_spark.queries.dedup import dedup_ngram_jaccard  # noqa: F401
    from gridiron_spark.queries import catalog

    fps = {}
    for r in catalog()["winnow_fingerprint"].spark_fn(spark, SF_ORACLE).collect():
        fps.setdefault(r.doc_id, set()).add(r.fingerprint)
    pairs = _pairs(ngram_jaccard_pairs(docs, threshold=0.5))
    assert pairs
    for a, b in pairs:
        inter = len(fps[a] & fps[b])
        union = len(fps[a] | fps[b])
        assert inter / union > 0.5  # near-dups share most fingerprints


def test_connected_components_chain_merging(spark):
    """Multi-hop chains must collapse to one cluster (label propagation past
    direct neighbors), disjoint components stay apart."""
    from gridiron_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 1)],
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: r.cluster_id for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 20: 1, 21: 1, 10: 10, 11: 10}


def test_prefix_filtered_equals_full_inverted_index(spark, docs):
    """AllPairs prefix filtering (rarest-shingle index + length filter) is
    lossless: same (pair, jaccard) set as the full inverted-index join."""
    from gridiron_spark.operators.dedup import prefix_filtered_pairs

    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    prefix = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in prefix_filtered_pairs(docs, threshold=0.5).collect()
    }
    assert prefix == full
    assert len(prefix) == 25  # the planted pairs


def test_prefix_filter_shrinks_index(spark, docs):
    """The prefix index must be strictly smaller than the full inverted
    index — that reduction is the whole point of the scale path."""
    from pyspark.sql import Window

    from gridiron_spark.operators.dedup import shingle_rows

    sh = shingle_rows(docs)
    total = sh.count()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    kept = (
        sh.join(freq, "shingle")
        .join(sizes, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("sz") - F.ceil(0.5 * F.col("sz") - 1e-9) + 1)
        .count()
    )
    # t=0.5 keeps ~half of each doc's shingles (+1)
    assert kept < 0.6 * total


def test_star_cc_equals_naive_cc_on_corpus_pairs(spark, docs):
    """large-star/small-star and min-label propagation reach the same
    fixpoint on the real near-dup graph."""
    from gridiron_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    naive = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    star = {r.doc_id: r.cluster_id for r in connected_components_star(pairs).collect()}
    assert star == naive


def test_star_cc_long_chain_converges(spark):
    """A 40-node path graph: O(diameter) propagation needs 39 rounds; the
    star algorithm must collapse it to one min-rooted cluster well inside
    max_iter (O(log² n) rounds), plus disjoint components stay apart."""
    from gridiron_spark.operators.dedup import connected_components_star

    chain = [(i, i + 1) for i in range(1, 40)] + [(100, 101), (101, 102)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components_star(pairs, max_iter=10).collect()
    }
    assert got == {**{i: 1 for i in range(1, 41)}, 100: 100, 101: 100, 102: 100}


def test_cc_raises_when_max_iter_runs_out(spark):
    """A 40-node path needs 39 min-label rounds: with the default max_iter
    of 20, connected_components must raise instead of returning a split
    cluster; the star form raises the same way when its own cap is hit."""
    from gridiron_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    chain = [(i, i + 1) for i in range(1, 40)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="connected_components: .*max_iter=20"):
        connected_components(pairs)
    with pytest.raises(RuntimeError, match="connected_components_star: .*max_iter=1"):
        connected_components_star(pairs, max_iter=1)


def test_simhash_agg_form_equals_scalar_form(spark, docs):
    """The exploded-aggregation plan (simhash_df) and the scalar Column
    expression (simhash32) are the same function — values must agree."""
    from gridiron_spark.operators.dedup import shingle_rows, simhash32, simhash_df

    sample = docs.limit(50)
    agg_form = {r.doc_id: r.simhash for r in simhash_df(shingle_rows(sample)).collect()}
    scalar_form = {
        r.doc_id: r.simhash
        for r in sample.select("doc_id", simhash32(F.col("text")).alias("simhash")).collect()
    }
    assert agg_form == scalar_form


def test_srp_signs_deterministic():
    a, b = srp_signs(4, 8), srp_signs(4, 8)
    assert a == b
    assert all(s in (1.0, -1.0) for row in a for s in row)


def test_embedding_near_pairs_subset_of_brute(spark):
    """Bucketed pairs are a subset of the quadratic scan at the same
    threshold (LSH drops candidates, never invents them), scores exact."""
    from gridiron_spark.functions.vectors import cosine

    emb = load_table(spark, SF_ORACLE, "embeddings")
    bucketed = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in embedding_near_pairs(emb, threshold=0.35, planes=4).collect()
    }
    brute = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in (
            emb.alias("a")
            .join(emb.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                cosine(F.col("a.embedding"), F.col("b.embedding")).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= 0.35)
        ).collect()
    }
    assert set(bucketed) <= set(brute)
    assert all(bucketed[k] == brute[k] for k in bucketed)


def test_prefix_filter_edge_cases(spark):
    """t=1.0 keeps a 1-shingle prefix (p = |d| - |d| + 1) yet must still
    pair identical docs; sub-k-word docs fall back to whole-text shingles;
    disjoint docs never pair."""
    from gridiron_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filtered_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d e"),      # identical to 1
            (3, "x y z w v"),      # disjoint
            (4, "hi there"),       # < k words -> whole-text shingle
            (5, "hi there"),       # identical short doc
        ],
        "doc_id long, text string",
    )
    for t in (1.0, 0.5):
        prefix = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in prefix_filtered_pairs(docs, threshold=t).collect()
        }
        full = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        assert prefix == full == {(1, 2): 1.0, (4, 5): 1.0}


def test_star_cc_empty_and_single_edge(spark):
    from gridiron_spark.operators.dedup import connected_components_star

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components_star(empty).count() == 0

    one = spark.createDataFrame([(7, 3)], "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in connected_components_star(one).collect()}
    assert got == {3: 3, 7: 3}


def test_incremental_flags_planted_near_dup(spark):
    """A batch doc near-duplicating a corpus doc must be flagged using ONLY
    the corpus's signature table; an unrelated batch doc must come back
    n_matches == 0 (keep)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from gridiron_spark.operators.dedup import (
        incremental_minhash_flags,
        minhash_signature_df,
        shingle_rows,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [base, "one two three four five six seven eight nine ten"],
            }
        )
    )
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [11, 12],
                "text": [base, "completely different vocabulary with novel words here now"],
            }
        )
    )
    corpus_sig = minhash_signature_df(shingle_rows(corpus))
    got = {
        r.doc_id: r
        for r in incremental_minhash_flags(corpus_sig, batch, threshold=0.5).collect()
    }
    assert set(got) == {11, 12}
    assert got[11].n_matches >= 1 and got[11].min_partner == 1
    assert got[11].max_est == 1.0  # identical text -> identical signature
    assert got[12].n_matches == 0 and got[12].min_partner is None


def test_dup_span_coverage_interval_union(spark, tmp_path):
    """Planted duplicate spans: overlapping spans merge into one interval
    (no double counting), disjoint islands sum, clean docs report zero."""
    from gridiron_spark.operators.dedup import dup_span_coverage_stats

    # k=3 spans; doc 1 and doc 2 share "x y z" twice in doc 1 at pos 0 and
    # pos 2 (overlapping: union covers pos 0..5) and doc 2 carries it once.
    docs = spark.createDataFrame(
        [
            (1, "x y z x y z a b c d"),   # dup span "x y z" at 0 and 3 (also "z x y"? no)
            (2, "q q q x y z r s t u"),
            (3, "m n o p e f g h i j"),   # clean
        ],
        "doc_id bigint, text string",
    )
    out = str(tmp_path)
    docs.write.parquet(f"{out}/documents.parquet")
    got = {
        r.doc_id: r
        for r in dup_span_coverage_stats(
            spark.read.parquet(f"{out}/documents.parquet"), 3
        ).collect()
    }
    # doc 1: "x y z" occurs at pos 0 and 3 (plus once in doc 2 -> >= 2 anyway);
    # intervals [0,3) and [3,6) are adjacent -> merged island covering 6 tokens
    assert got[1].n_dup_positions == 2
    assert got[1].covered_tokens == 6
    assert got[1].dup_coverage_frac == 0.6
    assert bool(got[1].keep) is False  # >= 50% copied
    # doc 2: one hit at pos 3 -> 3 tokens covered
    assert got[2].n_dup_positions == 1
    assert got[2].covered_tokens == 3
    assert bool(got[2].keep) is True
    # doc 3: clean
    assert got[3].covered_tokens == 0 and got[3].dup_coverage_frac == 0.0


def test_cluster_split_never_straddles(spark):
    """Leakage-free split invariant: every near-dup cluster maps to exactly
    one split, and all three splits actually occur at corpus scale."""
    from pyspark.sql import functions as F

    from gridiron_spark.queries import catalog
    from tests.conftest import SF_ORACLE

    df = catalog()["cluster_split_assign"].spark_fn(spark, SF_ORACLE).cache()
    straddlers = (
        df.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert straddlers == 0
    counts = {r["split"]: r["n"] for r in
              df.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    total = sum(counts.values())
    assert counts["train"] / total > 0.8  # ~90/5/5 by construction
    df.unpersist()


def test_lsh_recall_curve_shape_on_graded_corpus(spark):
    """On a corpus with GRADED overlap (pairs spanning low to high
    Jaccard), the measured LSH S-curve must behave like the theory says:
    monotone-ish recall that reaches 1.0 in the top bucket and misses at
    least something in the sub-threshold buckets (the pruning working)."""
    from pyspark.sql import functions as F

    from gridiron_spark.operators.dedup import (
        band_keys,
        minhash_signature_df,
        ngram_jaccard_pairs,
        shingle_rows,
    )

    # doc 2i and 2i+1 share a prefix of i words out of 24 — pairwise
    # Jaccard rises smoothly from ~0 to ~0.9 across the corpus
    base = [f"w{j}" for j in range(40)]
    rows = []
    for i in range(24):
        shared = [f"s{i}_{j}" for j in range(i)]
        a = shared + base[: 24 - i]
        b = shared + [f"b{i}_{j}" for j in range(24 - i)]
        rows.append((2 * i, " ".join(a)))
        rows.append((2 * i + 1, " ".join(b)))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    truth = ngram_jaccard_pairs(docs, threshold=0.25, shingle_k=3)
    sh = shingle_rows(docs)
    sig = minhash_signature_df(sh)
    banded = sig.select(
        "doc_id",
        F.posexplode(band_keys(F.col("sig"), 4, 4)).alias("bi", "bk"),
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    bucket = F.least(F.floor(F.col("jaccard") * 10), F.lit(9)).cast("bigint")
    curve = {
        r["bucket"]: (r["n_truth"], r["n_hit"])
        for r in truth.join(cand, ["doc_a", "doc_b"], "left")
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_hit"),
        )
        .collect()
    }
    assert len(curve) >= 4, f"graded corpus should span buckets: {curve}"
    hi = max(curve)
    assert curve[hi][1] == curve[hi][0], "top bucket must have full recall"
    low_missed = sum(
        n_truth - n_hit for b, (n_truth, n_hit) in curve.items() if b <= 4
    )
    assert low_missed > 0, f"sub-threshold buckets should miss some: {curve}"


def test_cdc_chunks_survive_offset_shift(spark):
    """The defining content-defined-chunking property: prepending a prefix
    shifts every byte offset, but chunk boundaries re-align once the gear
    window clears the edit, so almost all chunks are byte-identical —
    a fixed-size blocker would share zero blocks."""
    from pyspark.sql import functions as F

    from gridiron_spark.queries.dedup import cdc_char_gears, cdc_chunks

    base = (
        "the fast key order sort table scan merge part window small hash "
        "scan join order batch stream spark window dup value key sort "
        "customer join agg row hash the group big table small query line"
    )
    df = spark.createDataFrame(
        [(1, base), (2, "INSERTED PREFIX >> " + base)], "doc_id int, text string"
    )
    rows = {
        r["doc_id"]: r["chunks"]
        for r in df.withColumn("g", cdc_char_gears(F.col("text")))
        .select("doc_id", cdc_chunks(F.col("text"), F.col("g")).alias("chunks"))
        .collect()
    }
    a, b = rows[1], rows[2]
    assert "".join(a) == base and "".join(b).endswith(base)
    shared = set(a) & set(b)
    # all but the boundary-adjacent head chunks re-align
    assert len(shared) >= len(a) - 2, (a, b)
    assert len(shared) >= 1


def test_cdc_chunks_concatenation_is_lossless(spark):
    """Chunks must partition the text exactly (no loss, no overlap) for
    every document in the corpus."""
    from pyspark.sql import functions as F

    from gridiron_spark.io.tables import load_table
    from gridiron_spark.queries.dedup import cdc_char_gears, cdc_chunks
    from tests.conftest import SF_SMALL

    # Checked via ONE aggregate, not filter().count(): under count,
    # PushDownPredicate substitutes `joined`'s definition into the filter
    # and the pruned `g` projection is inlined into each of the gear
    # hash's 8 element_at references — the per-char transform re-ran
    # per reference (O(n²)/doc; this single test was 162 s of the suite's
    # wall time). The aggregate keeps `g` a multi-referenced projection
    # barrier, so the chunking evaluates once per row (3.9 s).
    bad = (
        load_table(spark, SF_SMALL, "documents")
        .withColumn("g", cdc_char_gears(F.col("text")))
        .select(
            F.concat_ws("", cdc_chunks(F.col("text"), F.col("g"))).alias("joined"),
            F.col("text"),
        )
        .agg(F.sum((F.col("joined") != F.col("text")).cast("int")).alias("bad"))
        .collect()[0]["bad"]
    )
    assert bad == 0
