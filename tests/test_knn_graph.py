"""The k-NN graph family: the array kernels (functions/vectors.py), the
candidate -> score -> top-k stage every graph builder shares, and the
builders' degeneracy pins — each builder equals knn_graph_ivf or the
brute-force graph where its extra machinery has nothing to do."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_kernels_match_python(spark):
    """Each kernel equals its plain-Python definition, and the integer
    kernels stay bigint (no overflow at quantized magnitudes)."""
    from gridiron_spark.functions.vectors import (
        dot,
        int_dot,
        int_l2_sq,
        l2_sq,
        matches,
    )

    a, b = [3, -64, 7, 0, 2**20], [5, 64, -7, 9, 2**20]
    fa, fb = [0.5, -1.25, 2.0], [4.0, 0.5, -0.75]
    row = spark.createDataFrame(
        [(a, b, fa, fb)],
        "a array<bigint>, b array<bigint>, fa array<float>, fb array<float>",
    ).select(
        int_dot("a", "b").alias("int_dot"),
        int_l2_sq("a", "b").alias("int_l2_sq"),
        matches("a", "b").alias("matches"),
        dot(F.col("fa"), F.col("fb")).alias("dot"),
        l2_sq(F.col("fa"), F.col("fb")).alias("l2_sq"),
    )
    assert dict(row.dtypes) == {
        "int_dot": "bigint", "int_l2_sq": "bigint", "matches": "int",
        "dot": "double", "l2_sq": "double",
    }
    got = row.first().asDict()
    assert got == {
        "int_dot": sum(x * y for x, y in zip(a, b)),
        "int_l2_sq": sum((x - y) ** 2 for x, y in zip(a, b)),
        "matches": sum(x == y for x, y in zip(a, b)),
        "dot": sum(x * y for x, y in zip(fa, fb)),
        "l2_sq": sum((x - y) ** 2 for x, y in zip(fa, fb)),
    }


def test_cell_pairs_need_every_key(spark):
    """Candidates share every key column, never pair a vector with
    itself, and come out once however many rows produce them."""
    from gridiron_spark.queries.similarity import _cell_pairs

    a = spark.createDataFrame(
        [(1, 7, 0), (2, 7, 0), (3, 7, 1), (4, 8, 0), (1, 7, 0)],
        "vec_id bigint, cid bigint, sub bigint",
    )
    b = a.filter(F.col("vec_id") != 2)
    one = {tuple(r) for r in _cell_pairs(a, a, ["cid"]).collect()}
    assert one == {(1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 2)}
    two = _cell_pairs(a, b, ["cid", "sub"])
    assert two.columns == ["src", "dst"]
    assert sorted(map(tuple, two.collect())) == [(2, 1)]


def test_top_k_orders_by_dot_then_dst_and_keeps_columns(spark):
    """Per src: the k largest dots, ties to the smaller dst; every column
    of the scored frame survives and the rank column does not."""
    from gridiron_spark.queries.similarity import _top_k

    scored = spark.createDataFrame(
        [(1, 5, 9, "a"), (1, 4, 9, "b"), (1, 3, 10, "c"), (1, 2, 1, "d"),
         (2, 1, -3, "e"), (2, 3, -2, "f")],
        "src bigint, dst bigint, dot bigint, tag string",
    )
    top = _top_k(scored, 2)
    assert top.columns == scored.columns
    assert sorted(map(tuple, top.collect())) == [
        (1, 3, 10, "c"), (1, 4, 9, "b"), (2, 1, -3, "e"), (2, 3, -2, "f"),
    ]


def test_knn_graph_ivf_full_probe_equals_brute(spark):
    """Probing ALL cells makes the candidate set all pairs, so the IVF
    graph must equal the brute-force exact top-k graph edge for edge —
    pinning assignment, candidate dedup, and verify as exact machinery.
    With probes=2 the edges must be a subset-quality approximation:
    same schema, <= k edges per source, dots never exceed the brute
    top-1."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gridiron_spark.io.tables import load_table
    from gridiron_spark.queries.similarity import knn_graph_ivf_edges
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 64).cast("bigint"),
        ).alias("qv"),
    )
    a = q.select(F.col("vec_id").alias("src"), F.col("qv").alias("qa"))
    b = q.select(F.col("vec_id").alias("dst"), F.col("qv").alias("qb"))
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("src").orderBy(F.desc("dot"), F.asc("dst"))
    brute = {
        (r["src"], r["dst"]): r["dot"]
        for r in a.join(b, F.col("src") != F.col("dst"))
        .select("src", "dst", dot.alias("dot"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .collect()
    }
    n_cells = q.filter(F.col("vec_id") % 10 == 0).count()
    full = {
        (r["src"], r["dst"]): r["dot"]
        for r in knn_graph_ivf_edges(
            spark, SF_SMALL, stride=10, probes=n_cells, k=3
        ).collect()
    }
    assert full == brute
    approx = list(
        knn_graph_ivf_edges(spark, SF_SMALL, stride=10, probes=2, k=3)
        .collect()
    )
    import collections

    per_src = collections.Counter(r["src"] for r in approx)
    assert all(v <= 3 for v in per_src.values())
    best_brute = {}
    for (s, d), v in brute.items():
        best_brute[s] = max(best_brute.get(s, v), v)
    for r in approx:
        assert r["dot"] <= best_brute[r["src"]]


def test_knn_graph_ivf_two_level_all_branches_equals_single(spark):
    """Two-level degeneracy pin: probing ALL branches makes the probed
    centroid union the full coarse table, so two-level assignment must
    reproduce the single-level edge set exactly — every downstream stage
    (candidate join, dedup, verify, rank) is shared machinery."""
    from pyspark.sql import functions as F

    from gridiron_spark.io.tables import load_table
    from gridiron_spark.queries.similarity import knn_graph_ivf_edges
    from tests.conftest import SF_SMALL

    n_sup = (
        load_table(spark, SF_SMALL, "embeddings")
        .filter(F.col("vec_id") % (10 * 5) == 0)
        .count()
    )
    assert n_sup >= 2, "fixture too small to exercise >1 branch"
    single = {
        (r["src"], r["dst"]): r["dot"]
        for r in knn_graph_ivf_edges(
            spark, SF_SMALL, stride=10, probes=2, k=3
        ).collect()
    }
    two_all = {
        (r["src"], r["dst"]): r["dot"]
        for r in knn_graph_ivf_edges(
            spark, SF_SMALL, stride=10, probes=2, k=3,
            super_fac=5, sprobes=n_sup,
        ).collect()
    }
    assert two_all == single
    # the shipped config (2 branches) stays an approximation of it:
    # same schema, <=k edges per source, never a better dot than brute
    two = knn_graph_ivf_edges(
        spark, SF_SMALL, stride=10, probes=2, k=3, super_fac=5, sprobes=2
    )
    assert two.columns == ["src", "dst", "dot"]
    per_src = (
        two.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    )
    assert per_src <= 3


def test_cell_split_no_hot_cells_degenerates_to_knn_graph_ivf(spark):
    """knn_graph_cellsplit's contract: with no cell over the cap, the
    remap is a pure passthrough (every sub_cid = -1) and the graph is
    byte-identical to knn_graph_ivf — the split only changes behavior
    where a cell actually violates the population bound. Drives the
    REGISTERED query function (cap is a keyword with the catalog
    default), so a divergence in its own body goes red here."""
    from pyspark.sql import functions as F

    from gridiron_spark.queries.similarity import (
        _GIVF_SFAC,
        _cell_split_assign,
        knn_graph_cellsplit,
        knn_graph_ivf_edges,
    )

    sf_dir = "/root/testdata/sf0.001"
    _, remap = _cell_split_assign(spark, sf_dir, cap=10**9)
    assert remap.filter(F.col("sub_cid") != -1).count() == 0
    got = knn_graph_cellsplit(spark, sf_dir, cap=10**9)
    want = knn_graph_ivf_edges(spark, sf_dir, super_fac=_GIVF_SFAC)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_recursive_graph_no_hot_cells_degenerates_to_knn_graph_ivf(spark):
    """knn_graph_recursive_split's contract (the same pin its one-round
    sibling carries): with no cell over the cap the recursive map is the
    identity, so the graph must be byte-equal to knn_graph_ivf."""
    from gridiron_spark.queries.similarity import (
        _GIVF_SFAC,
        knn_graph_ivf_edges,
        knn_graph_recursive_edges,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = knn_graph_recursive_edges(spark, sf_dir, cap=10**9, max_rounds=2)
    want = knn_graph_ivf_edges(spark, sf_dir, super_fac=_GIVF_SFAC)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
