"""Behavioral pins for the round-5 curation additions.

- SemDeDup (operators/similarity.semdedup_flags): planted near-duplicate
  groups must collapse to exactly one representative (the closest-to-
  centroid member), distinct vectors must all survive.
- Iterative BPE (operators/bpe.bpe_merge_table): the declarative merge loop
  must reproduce, merge for merge, a from-scratch reference Python BPE
  (the Sennrich et al. 2016 dictionary algorithm) on a toy corpus.
"""

from __future__ import annotations

import collections


def _vec(*xs):
    return [float(x) for x in xs]


def test_semdedup_drops_planted_near_dups_keeps_distinct(spark):
    from gridiron_spark.operators.similarity import semdedup_flags

    # Two well-separated clusters (external centroids, so the seeds don't
    # themselves dedup against the planted groups). Cluster 0 (around +x):
    # vectors 10, 11, 12 are near-identical (pairwise cos ≈ 1) plus one
    # angularly distinct member 13. Cluster 1 (around +y): 20 and 21
    # near-identical, 22 distinct.
    rows = [
        (10, _vec(10, 0.1, 0, 0)),
        (11, _vec(10, 0.11, 0, 0)),
        (12, _vec(10.2, 0.1, 0, 0)),
        (13, _vec(5, 0, 4.9, 0)),    # same cluster, dissimilar direction
        (20, _vec(0.1, 9, 0, 0)),
        (21, _vec(0.1, 9.1, 0, 0)),
        (22, _vec(0, 5, 0, 4.9)),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, _vec(1, 0, 0, 0)), (1, _vec(0, 1, 0, 0))],
        "cluster bigint, cvec array<float>",
    )
    flags = {
        r["vec_id"]: (r["cluster"], r["keep"])
        for r in semdedup_flags(emb, cents, threshold=0.95).collect()
    }
    assert len(flags) == len(rows)
    # each planted group keeps exactly one member — the closest-to-centroid
    # one (10 and 20: smallest dist2 within their colinear groups)
    assert [flags[i][1] for i in (10, 11, 12)] == [1, 0, 0]
    assert [flags[i][1] for i in (20, 21)] == [1, 0]
    # the angularly distinct members survive
    for vid in (13, 22):
        assert flags[vid][1] == 1, f"distinct vector {vid} was dropped"
    # clusters landed as planted (x-ish → 0, y-ish → 1)
    assert {flags[i][0] for i in (10, 11, 12, 13)} == {0}
    assert {flags[i][0] for i in (20, 21, 22)} == {1}


def test_semdedup_keeper_is_closest_to_centroid(spark):
    from gridiron_spark.operators.similarity import semdedup_flags

    # one cluster, three colinear near-dups at increasing distance from the
    # (external) centroid — the rank rule must keep the CLOSEST one
    # (id 12, not the smallest id)
    rows = [
        (10, _vec(8, 0)),
        (11, _vec(6, 0)),
        (12, _vec(2, 0)),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, _vec(1, 1))], "cluster bigint, cvec array<float>"
    )
    flags = {
        r["vec_id"]: r["keep"]
        for r in semdedup_flags(emb, cents, threshold=0.99).collect()
    }
    assert flags[12] == 1
    assert flags[10] == 0 and flags[11] == 0


def test_semdedup_exact_cap_inert_while_in_contract(spark):
    """exact_cap is the round-11 self-protection bound: while every
    cluster is at or under the cap (the k ∝ n contract regime) the
    guarded prune must be byte-identical to the unguarded exact prune —
    the census may not perturb results, only runaway clusters."""
    from gridiron_spark.operators.similarity import semdedup_flags

    rows = [
        (10, _vec(10, 0.1, 0, 0)),
        (11, _vec(10, 0.11, 0, 0)),
        (12, _vec(10.2, 0.1, 0, 0)),
        (13, _vec(5, 0, 4.9, 0)),
        (20, _vec(0.1, 9, 0, 0)),
        (21, _vec(0.1, 9.1, 0, 0)),
        (22, _vec(0, 5, 0, 4.9)),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, _vec(1, 0, 0, 0)), (1, _vec(0, 1, 0, 0))],
        "cluster bigint, cvec array<float>",
    )
    exact = sorted(
        map(tuple, semdedup_flags(emb, cents, threshold=0.95).collect())
    )
    # max cluster is 4; cap = 4 sits exactly on the contract boundary
    guarded = sorted(
        map(
            tuple,
            semdedup_flags(emb, cents, threshold=0.95, exact_cap=4).collect(),
        )
    )
    assert guarded == exact


def test_semdedup_exact_cap_degrades_to_rank_window(spark):
    """When a cluster outgrows exact_cap, the guard must flip the
    pairwise stage to the rank-window prune with R = cap — equal, row
    for row, to calling the rank-window path explicitly."""
    from gridiron_spark.operators.similarity import semdedup_flags

    # one hot cluster: 6 colinear near-dups (violates a cap of 2) plus a
    # second small in-contract cluster that must stay exactly pruned
    rows = [(i, _vec(10 + 0.01 * i, 0.1, 0, 0)) for i in range(10, 16)]
    rows += [(20, _vec(0.1, 9, 0, 0)), (21, _vec(0.1, 9.1, 0, 0))]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, _vec(1, 0, 0, 0)), (1, _vec(0, 1, 0, 0))],
        "cluster bigint, cvec array<float>",
    )
    guarded = sorted(
        map(
            tuple,
            semdedup_flags(emb, cents, threshold=0.95, exact_cap=2).collect(),
        )
    )
    windowed = sorted(
        map(
            tuple,
            semdedup_flags(
                emb, cents, threshold=0.95, prune_rank_window=2
            ).collect(),
        )
    )
    assert guarded == windowed
    # and the degraded prune still collapses the planted colinear group
    # (every member cosine-matches the top-ranked survivors)
    keep = {vid: k for vid, _, k in guarded}
    assert sum(keep[i] for i in range(10, 16)) == 1
    assert keep[20] == 1 and keep[21] == 0


def test_semdedup_capped_degrade_entry_takes_degraded_branch(spark):
    """The round-12 catalog entry semdedup_capped_degrade must (a) build a
    clustering whose max|cluster| genuinely exceeds its exact_cap at the
    test corpus — i.e. the census provably trips — and (b) return flags
    byte-equal to calling the rank-window prune explicitly with R = cap
    (the branch its oracle replays)."""
    from pyspark.sql import functions as F

    from gridiron_spark.io.tables import load_table
    from gridiron_spark.operators.similarity import (
        lloyd_assign,
        semdedup_flags,
    )
    from gridiron_spark.queries import catalog
    from gridiron_spark.queries.similarity import (
        _SDC_CAP,
        _SDC_K,
        _SEMDEDUP_THRESHOLD,
    )
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    cents = emb.filter(F.col("vec_id") < _SDC_K).select(
        F.col("vec_id").alias("cluster"), F.col("embedding").alias("cvec")
    )
    max_cluster = (
        lloyd_assign(emb, cents)
        .groupBy("cluster")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert max_cluster > _SDC_CAP, (max_cluster, _SDC_CAP)

    entry = sorted(
        map(
            tuple,
            catalog()["semdedup_capped_degrade"]
            .spark_fn(spark, SF_SMALL)
            .collect(),
        )
    )
    windowed = sorted(
        map(
            tuple,
            semdedup_flags(
                emb,
                cents,
                _SEMDEDUP_THRESHOLD,
                prune_rank_window=_SDC_CAP,
            ).collect(),
        )
    )
    assert entry == windowed


def _reference_bpe(word_freq: dict[str, int], n_merges: int):
    """Plain-Python BPE (Sennrich et al. 2016): symbol sequences per word,
    argmax adjacent pair by weighted count (ties lexicographic), left-to-
    right non-overlapping merge."""
    segs = {w: list(w) for w in word_freq}
    merges = []
    for step in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = collections.Counter()
        for w, syms in segs.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += word_freq[w]
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, a, b, a + b, n))
        for w, syms in segs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            segs[w] = out
    return merges


def test_bpe_matches_reference_python(spark):
    from gridiron_spark.operators.bpe import SENTINEL, bpe_merge_table

    docs = [
        "the cat sat on the mat",
        "the cats sat",
        "a hat on the mat",
        "that cat that mat",
        "low lower lowest low low",
    ]
    for d in docs:
        assert SENTINEL not in d
    wf: dict[str, int] = collections.Counter(
        w for d in docs for w in d.lower().split() if w
    )
    expected = _reference_bpe(dict(wf), n_merges=10)
    wc = spark.createDataFrame(
        [(w, n) for w, n in wf.items()], "word string, freq bigint"
    )
    got = [
        (r["step"], r["left_sym"], r["right_sym"], r["merged"], r["n"])
        for r in bpe_merge_table(wc, n_merges=10)
        .orderBy("step")
        .collect()
    ]
    assert got == expected


def test_bpe_merge_count_weighting(spark):
    """The winning pair must be weighted by word FREQUENCY, not by distinct
    words: 'zz' appears in one distinct word with freq 5, 'ab' in two
    distinct words with freq 1 each — z+z must win."""
    from gridiron_spark.operators.bpe import bpe_merge_table

    wc = spark.createDataFrame(
        [("zz", 5), ("ab", 1), ("abc", 1)], "word string, freq bigint"
    )
    first = bpe_merge_table(wc, n_merges=1).collect()[0]
    assert (first["left_sym"], first["right_sym"], first["n"]) == ("z", "z", 5)


def test_bpe_segmentations_match_reference(spark):
    """The encode side: final per-word symbol counts after N merges must
    equal replaying the reference Python BPE's segmentation state."""
    from gridiron_spark.operators.bpe import bpe_segmentations

    docs = ["the cat sat on the mat", "that cat that mat", "low lower lowest"]
    wf: dict[str, int] = collections.Counter(
        w for d in docs for w in d.lower().split() if w
    )
    # replay the reference loop to its final segmentation
    segs = {w: list(w) for w in wf}
    for step, a, b, _m, _n in _reference_bpe(dict(wf), n_merges=6):
        for w, syms in segs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            segs[w] = out
    expected = {w: len(s) for w, s in segs.items()}
    wc = spark.createDataFrame(
        [(w, n) for w, n in wf.items()], "word string, freq bigint"
    )
    got = {
        r["word"]: r["n_syms"]
        for r in bpe_segmentations(wc, n_merges=6).collect()
    }
    assert got == expected


def test_kmeans_fit_inertia_monotone_to_fixpoint(spark):
    """Lloyd with the fixed-point quantized update must (a) not increase
    inertia across rounds beyond the 2⁻²⁰ grid error, and (b) reach a true
    fixpoint: once the assignment repeats, further rounds change nothing."""
    from pyspark.sql import functions as F

    from gridiron_spark.operators.similarity import (
        kmeans_fit,
        lloyd_assign,
        quantized_lloyd_update,
        seed_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = seed_centroids(emb, 4)
    inertias = []
    for _ in range(20):
        a = lloyd_assign(emb, cents).localCheckpoint(eager=False)
        inertias.append(a.agg(F.sum("dist2")).collect()[0][0])
        cents = quantized_lloyd_update(a, cents).localCheckpoint(eager=False)
    grid_eps = 1e-3  # generous bound on the 2^-20 quantization wobble
    for prev, nxt in zip(inertias, inertias[1:]):
        assert nxt <= prev + grid_eps, f"inertia rose: {prev} -> {nxt}"

    # fixpoint: fitting with a cap far past convergence equals fitting at
    # the convergence cap (extra rounds are no-ops), and the converged
    # centroids are a fixed point of assign→update
    c20 = kmeans_fit(emb, k=4, rounds=20)
    c25 = kmeans_fit(emb, k=4, rounds=25)
    as_rows = lambda df: sorted(  # noqa: E731
        (r["cluster"], tuple(r["cvec"])) for r in df.collect()
    )
    assert as_rows(c20) == as_rows(c25)
    again = quantized_lloyd_update(lloyd_assign(emb, c20), c20)
    assert as_rows(again) == as_rows(c20)


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    """A cluster that loses all members must keep its previous centroid
    (the fallback that also makes the update idempotent at fixpoint)."""
    from gridiron_spark.operators.similarity import (
        lloyd_assign,
        quantized_lloyd_update,
        seed_centroids,
    )

    # seeds come from a table whose vector 1 sits at [10,10]; the corpus
    # actually assigned has every vector near the origin → cluster 1 empty
    seeds_src = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0])],
        "vec_id bigint, embedding array<float>",
    )
    emb2 = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.3, 0.3]), (2, [0.2, 0.1]),
         (3, [0.1, 0.2])],
        "vec_id bigint, embedding array<float>",
    )
    cents = seed_centroids(seeds_src, 2)
    assigned = lloyd_assign(emb2, cents)
    assert assigned.filter("cluster = 1").count() == 0
    updated = {r["cluster"]: list(r["cvec"])
               for r in quantized_lloyd_update(assigned, cents).collect()}
    assert updated[1] == [10.0, 10.0], "empty cluster lost its centroid"


def test_bpe_exhausted_vocabulary_keeps_segmentations(spark):
    """When a merge round finds no candidate pair (every word is a single
    symbol), the winner frame is empty — the loop must leave the remaining
    segmentations INTACT (reference BPE just stops producing merges), not
    wipe the table through an empty cross join."""
    from gridiron_spark.operators.bpe import bpe_merge_table, bpe_segmentations

    wc = spark.createDataFrame(
        [("a", 5), ("b", 3), ("c", 2)], "word string, freq bigint"
    )
    seg = {r["word"]: r["n_syms"]
           for r in bpe_segmentations(wc, n_merges=4).collect()}
    assert seg == {"a": 1, "b": 1, "c": 1}
    assert bpe_merge_table(wc, n_merges=4).count() == 0

    # and a vocabulary that exhausts midway: "ab"×4 merges once (a,b) then
    # has nothing left — the later empty rounds must not disturb it
    wc2 = spark.createDataFrame(
        [("ab", 4), ("c", 1)], "word string, freq bigint"
    )
    seg2 = {r["word"]: r["n_syms"]
            for r in bpe_segmentations(wc2, n_merges=6).collect()}
    assert seg2 == {"ab": 1, "c": 1}
    merges = bpe_merge_table(wc2, n_merges=6).collect()
    assert [(m["left_sym"], m["right_sym"]) for m in merges] == [("a", "b")]


def test_source_fingerprint_tracks_content(tmp_path):
    """Stage keys must change when a source file is regenerated (same
    path, new bytes/mtime) — the guard against stale /tmp artifacts.
    Nanosecond mtime: a same-size rewrite WITHIN THE SAME SECOND must
    still change the key (no sleep here, on purpose)."""
    import os

    from gridiron_spark.queries.sinks import source_fingerprint

    f = tmp_path / "documents.parquet"
    f.write_bytes(b"v1")
    fp1 = source_fingerprint(str(tmp_path), "documents")
    assert fp1 != "nostat"
    f.write_bytes(b"v2")  # same byte size, same wall-clock second
    fp2 = source_fingerprint(str(tmp_path), "documents")
    assert fp1 != fp2
    os.remove(f)
    assert source_fingerprint(str(tmp_path), "documents") == "nostat"


def test_two_level_assign_full_probe_equals_exact(spark):
    """With probes == groups every branch is probed, so the candidate set
    is all k centroids and the two-level assignment MUST equal the exact
    lloyd_assign argmin row-for-row — the degenerate case that pins the
    machinery itself (branch build, probe ranking, fine argmin) as exact."""
    from pyspark.sql import functions as F

    from gridiron_spark.io.tables import load_table
    from gridiron_spark.operators.similarity import (
        lloyd_assign,
        two_level_assign,
    )
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cluster"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cvec"),
    )
    exact = {
        r["vec_id"]: (r["cluster"], r["dist2"])
        for r in lloyd_assign(emb, cents).collect()
    }
    two = {
        r["vec_id"]: (r["cluster"], r["dist2"])
        for r in two_level_assign(emb, cents, groups=4, probes=4).collect()
    }
    assert two == exact


def test_two_level_assign_probe_tradeoff(spark):
    """With probes < groups the assignment is approximate: every vector
    still gets exactly one cluster, its distance can never BEAT the exact
    argmin (the probed candidate set is a subset), and on real embeddings
    the agreement rate stays high (the IVF recall trade-off)."""
    from pyspark.sql import functions as F

    from gridiron_spark.io.tables import load_table
    from gridiron_spark.operators.similarity import (
        lloyd_assign,
        two_level_assign,
    )
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    n = emb.count()
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cluster"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cvec"),
    )
    exact = {
        r["vec_id"]: (r["cluster"], r["dist2"])
        for r in lloyd_assign(emb, cents).collect()
    }
    two = {
        r["vec_id"]: (r["cluster"], r["dist2"])
        for r in two_level_assign(emb, cents, groups=4, probes=2).collect()
    }
    assert set(two) == set(exact) and len(two) == n  # total assignment
    eps = 1e-9
    assert all(two[v][1] >= exact[v][1] - eps for v in two)
    agree = sum(1 for v in two if two[v][0] == exact[v][0])
    assert agree / n >= 0.8, f"agreement {agree}/{n}"


def test_url_canonical_dedup_invariants(spark):
    """Canonical URLs must be fully normalized (no fragment, no :443, no
    utm_ params, lowercase scheme/host, no trailing slash before the
    query) and the planted collision structure must hold exactly: docs
    collapse by doc_id % 128, every group keeps its smallest doc_id, and
    group sizes sum back to the corpus."""
    from gridiron_spark.queries import catalog
    from tests.conftest import SF_SMALL

    from gridiron_spark.io.tables import load_table

    rows = (
        catalog()["url_canonical_dedup"]
        .spark_fn(spark, SF_SMALL)
        .collect()
    )
    n_docs = load_table(spark, SF_SMALL, "documents").count()
    assert sum(r["n_dups"] for r in rows) == n_docs
    for r in rows:
        u = r["canonical_url"]
        assert "#" not in u and ":443" not in u and "utm_" not in u, u
        assert u.startswith("https://b"), u  # scheme+host case-folded
        host = u.split("/")[2]
        assert host == host.lower(), u
        path = u.split("?")[0]
        assert not path.endswith("/"), u
        # planted structure: base id appears in host, path, and id param
        base = int(u.split("id=")[1])
        assert f"b{base}.example.com" in u and f"/a/{base}?" in u
        assert r["keeper_id"] % 128 == base
    # keeper is the minimum member: keeper_id <= every member implies
    # keeper_id * n <= dup_id_sum
    for r in rows:
        assert r["keeper_id"] * r["n_dups"] <= r["dup_id_sum"]


def test_domain_holdout_split_no_straddle(spark):
    """The split must be a pure function of the domain: recompute the
    doc-grain assignment and assert no domain appears in two splits,
    and the per-(split, source) audit reconciles with the doc grain."""
    from pyspark.sql import functions as F

    from gridiron_spark.queries import catalog
    from gridiron_spark.queries.domains import doc_domains
    from tests.conftest import SF_SMALL

    audit = {
        (r["split"], r["source"]): (r["n_domains"], r["n_docs"])
        for r in catalog()["domain_holdout_split"]
        .spark_fn(spark, SF_SMALL)
        .collect()
    }
    dd = doc_domains(spark, SF_SMALL)
    h = F.expr(
        "cast(conv(substring(md5(domain), 1, 8), 16, 10) as bigint) % 100"
    )
    doc = [
        (r["domain"], r["source"], r["split"])
        for r in dd.withColumn(
            "split",
            F.when(h < 10, "test").when(h < 20, "val").otherwise("train"),
        ).collect()
    ]
    by_domain = {}
    for dom, src, sp in doc:
        by_domain.setdefault(dom, set()).add(sp)
    assert all(len(v) == 1 for v in by_domain.values()), "domain straddles"
    # audit reconciles with the doc grain
    import collections

    docs_per = collections.Counter((sp, src) for _, src, sp in doc)
    doms_per = collections.defaultdict(set)
    for dom, src, sp in doc:
        doms_per[(sp, src)].add(dom)
    for k, (n_domains, n_docs) in audit.items():
        assert docs_per[k] == n_docs
        assert len(doms_per[k]) == n_domains
    assert set(audit) == set(docs_per)


def test_kmeans_fit_two_level_full_probe_equals_brute(spark):
    """kmeans_fit(two_level_groups=g, probes=g) must train the IDENTICAL
    centroids as the brute path: with every branch probed the per-round
    assignment is the exact argmin, and the quantized update is a pure
    function of the assignment — so the whole training trajectory
    coincides bit for bit."""
    from pyspark.sql import functions as F

    from gridiron_spark.io.tables import load_table
    from gridiron_spark.operators.similarity import kmeans_fit
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    brute = {
        r["cluster"]: r["cvec"]
        for r in kmeans_fit(emb, k=8, rounds=3).collect()
    }
    two = {
        r["cluster"]: r["cvec"]
        for r in kmeans_fit(
            emb, k=8, rounds=3, two_level_groups=3, probes=3
        ).collect()
    }
    assert two == brute


def test_cell_split_bounds_hot_cell_candidates(spark):
    """On a corpus with a genuinely hot cell the post-split candidate
    term must shrink: Σ|sub-cell|² < |cell|² for every split cell, and
    the split must partition the cell's members exactly."""
    from pyspark.sql import functions as F

    from gridiron_spark.queries import catalog

    rows = catalog()["ivf_cell_split"].spark_fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    by_cid: dict[int, list] = {}
    for r in rows:
        by_cid.setdefault(r["cid"], []).append(r)
    split_cells = {c: rs for c, rs in by_cid.items()
                   if any(r["sub_cid"] != -1 for r in rs)}
    assert split_cells, "sf0.01 must exercise the split branch (cap=100)"
    for c, rs in split_cells.items():
        assert all(r["sub_cid"] != -1 for r in rs)  # no half-split cells
        n_cell = sum(r["n_members"] for r in rs)
        assert n_cell > 100
        assert sum(r["n_members"] ** 2 for r in rs) < n_cell**2
    passthrough = {c: rs for c, rs in by_cid.items() if c not in split_cells}
    assert passthrough, "sf0.01 must also exercise the passthrough branch"
    assert all(len(rs) == 1 and rs[0]["sub_cid"] == -1
               for rs in passthrough.values())


def test_cellsplit_probe_recall_dominates_home_only(spark):
    """The sibling-probe recall row (round-12): vs the unsplit
    knn_graph_ivf edges as ground truth, knn_graph_cellsplit_probe must
    recover a SUPERSET of the true edges knn_graph_cellsplit recovers
    (probe candidates ⊇ home candidates, and a true-top-k edge present
    in a candidate subset always survives its top-k), i.e. recall is
    monotone in the probe width. sf0.01 genuinely splits (cap=100 trips
    — pinned by test_cell_split_bounds_hot_cell_candidates), so the
    probe rows are live, not passthrough."""
    from gridiron_spark.queries import catalog

    sf_dir = "/root/testdata/sf0.01"
    cat = catalog()
    true = set(map(tuple, cat["knn_graph_ivf"].spark_fn(
        spark, sf_dir).select("src", "dst").collect()))
    home = set(map(tuple, cat["knn_graph_cellsplit"].spark_fn(
        spark, sf_dir).select("src", "dst").collect()))
    probe = set(map(tuple, cat["knn_graph_cellsplit_probe"].spark_fn(
        spark, sf_dir).select("src", "dst").collect()))
    assert (home & true) <= (probe & true)
    recall_home = len(home & true) / len(true)
    recall_probe = len(probe & true) / len(true)
    assert recall_probe >= recall_home
    # the split genuinely loses edges here (else the probe has nothing
    # to recover and this test pins nothing)
    assert recall_home < 1.0


def test_recursive_cell_split_passthrough_when_no_hot_cells(spark):
    """Degeneracy contract (unchanged from the one-round split): with no
    cell over the cap, the recursive split is a pure passthrough — the
    final sub-cell key equals the original cell id for every member."""
    from pyspark.sql import functions as F

    from gridiron_spark.queries.similarity import recursive_cell_split

    remap = recursive_cell_split(spark, "/root/testdata/sf0.001", cap=10**9)
    assert remap.filter(
        F.col("ck") != F.col("cid").cast("string")
    ).count() == 0


def test_recursive_split_entry_second_round_fires_at_oracle_sf(spark):
    """ivf_cell_split_recursive's point is the SECOND round: its oracle
    unrolls two rounds, so the entry must genuinely execute round 2 at
    the driver's correctness scale — i.e. round 1 at cap=12 must leave
    at least one sub-cell still hot, and round 2 must shrink it. Also
    pins that the entry equals the operator at max_rounds=2 (cell-grain
    aggregate of the same map)."""
    from pyspark.sql import functions as F

    from gridiron_spark.queries import catalog
    from gridiron_spark.queries.similarity import (
        _RSPLIT_CAP,
        recursive_cell_split,
    )

    sf_dir = "/root/testdata/sf0.01"
    r1 = recursive_cell_split(spark, sf_dir, cap=_RSPLIT_CAP, max_rounds=1)
    r1_max = (
        r1.groupBy("cid", "ck").count().agg(F.max("count")).first()[0]
    )
    assert r1_max > _RSPLIT_CAP, (r1_max, _RSPLIT_CAP)

    entry = sorted(map(tuple, catalog()["ivf_cell_split_recursive"]
                       .spark_fn(spark, sf_dir).collect()))
    r2 = recursive_cell_split(spark, sf_dir, cap=_RSPLIT_CAP, max_rounds=2)
    op = sorted(map(tuple, r2.groupBy("cid", "ck")
                    .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
                    .collect()))
    assert entry == op
    r2_max = max(n for _, _, n in entry)
    assert r2_max < r1_max, (r2_max, r1_max)


def test_recursive_cell_split_caps_exact_copy_mega_cell(spark, tmp_path):
    """The round-12 residual closed: an EXACT-copy mega-cell defeats one
    split round (every copy ties to the same sub-seed), and defeats
    iteration too unless ties hash-spread. The recursive split must
    bring every final sub-cell under the cap within its round budget on
    a 100-copy cell, while conserving membership."""
    from pyspark.sql import functions as F

    from gridiron_spark.queries.similarity import recursive_cell_split

    base = [float(i % 7) / 7.0 for i in range(16)]
    rows = [(i, base, 0) for i in range(100)]
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(str(corpus / "embeddings.parquet"))

    cap = 8
    remap = recursive_cell_split(spark, str(corpus), cap=cap, max_rounds=4)
    sizes = remap.groupBy("cid", "ck").count()
    assert sizes.agg(F.max("count")).first()[0] <= cap
    # membership conserved: every (vec_id, cid) appears exactly once
    n_pairs = remap.count()
    assert remap.select("vec_id", "cid").distinct().count() == n_pairs


def test_recursive_graph_caps_mega_cell_candidates(spark, tmp_path):
    """The graph-path closure of the round-12 residual: on a 100-copy
    exact-duplicate corpus the ONE-round split leaves a 100-member
    sub-cell (ties send every copy to one seed), so a graph keyed on
    the one-round map still pays ~|cell|² candidate pairs — while the
    recursive map's final census is cap-bounded, so the SAME graph
    shape keyed on (cid, ck) pays at most #subcells * cap * (cap-1).
    Also pins that the graph still yields edges (copies stay mutually
    reachable within their sub-cell)."""
    from pyspark.sql import functions as F

    from gridiron_spark.queries.similarity import (
        knn_graph_recursive_edges,
        recursive_cell_split,
    )

    base = [float(i % 7) / 7.0 for i in range(16)]
    rows = [(i, base, 0) for i in range(100)]
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(corpus / "embeddings.parquet")
    )

    cap = 8
    sizes = (
        recursive_cell_split(spark, str(corpus), cap=cap, max_rounds=4)
        .groupBy("cid", "ck")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    cand_pairs = sum(r["n"] * (r["n"] - 1) for r in sizes)
    n_total = sum(r["n"] for r in sizes)
    assert max(r["n"] for r in sizes) <= cap
    assert cand_pairs <= len(sizes) * cap * (cap - 1)
    assert cand_pairs < n_total * (n_total - 1) / 4  # far under all-pairs
    edges = knn_graph_recursive_edges(
        spark, str(corpus), cap=cap, max_rounds=4
    )
    per_src = edges.groupBy("src").count().collect()
    assert per_src, "copies in a shared sub-cell must yield edges"
    assert all(r["count"] <= 3 for r in per_src)  # k bound holds


def test_hier3_probe_all_branches_degenerates_to_two_level(spark, tmp_path):
    """The depth-3 seam contract (same shape as two-level vs single-
    level): probing ALL depth-2 branches must reproduce the two-level
    assignment byte-for-byte — every super is reachable through its
    top-1 branch exactly once, so the vector→super rank sees the same
    candidate set with the same ordering. Synthetic corpus sized so
    every level has multiple members (12 cents / 6 supers / 3 branches)
    and the real (sprobes2=2) descent genuinely prunes."""
    import math

    from gridiron_spark.queries.similarity import _ivf_assign

    rows = [
        (i, [math.sin(0.7 * i + 1.3 * d) for d in range(16)], i % 5)
        for i in range(600)
    ]
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(corpus / "embeddings.parquet")
    )

    _, two = _ivf_assign(spark, str(corpus), stride=50, probes=2,
                         super_fac=2, sprobes=2)
    _, all3 = _ivf_assign(spark, str(corpus), stride=50, probes=2,
                          super_fac=2, sprobes=2,
                          super2_fac=2, sprobes2=10**6)
    assert sorted(map(tuple, all3.collect())) == sorted(
        map(tuple, two.collect())
    )
    # and the REAL descent differs somewhere (it prunes, not a no-op)
    _, real3 = _ivf_assign(spark, str(corpus), stride=50, probes=2,
                           super_fac=2, sprobes=2,
                           super2_fac=2, sprobes2=1)
    assert sorted(map(tuple, real3.collect())) != sorted(
        map(tuple, two.collect())
    )
