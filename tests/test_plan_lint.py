"""Catalog-wide physical-plan linter.

The per-query guards in test_plan_shapes.py pin specific shapes; this
linter enforces the BLANKET invariants every catalog entry must satisfy
at 100 TB, so a future query can't quietly ship a scale-killer:

- no CartesianProduct, ever (broadcast-nested-loop against a bounded side
  is the sanctioned pattern for interval predicates and is whitelisted
  per query);
- no empty-partition global Window (``Window [... ] []`` — the
  single-task total-order trap; the range-exchange machinery exists for
  exactly this);
- every BroadcastNestedLoopJoin must be build-side-broadcast (never a
  shuffle replacement).

Queries whose CONSTRUCTION already executes jobs (streaming drains,
staged-artifact miners, localCheckpoint loops) are linted on their final
plan anyway — construction cost at SF_SMALL is pennies — but listed so a
reader knows why the lint takes seconds, not milliseconds.
"""

from __future__ import annotations

import re

import pytest

from gridiron_spark.queries import catalog
from tests.conftest import SF_SMALL

_CATALOG = catalog()

# interval/band predicates where a broadcast nested-loop against a
# provably bounded side is the CORRECT plan (documented in PLANS.md)
_BNLJ_OK = {
    "range_join_bands",          # O(10) banding dimension
    "asof_join_events",          # bounded quote side at SF_SMALL plans
    "bm25_search_topk",          # 1-row stats crossJoin
    "tfidf_topk_terms",          # 1-row corpus-count crossJoin
    "boilerplate_phrase_flags",  # 1-row corpus-fraction threshold
    "ngram_lm_train_score",      # 1-row V crossJoin
    "forecast_revenue_change",   # 1-row scalar subquery
    "promo_revenue_ratio",       # 1-row ratio denominator
    "market_share_ratio",        # 1-row total
    "important_part_value",      # 1-row share-of-total threshold
    "scalar_subquery_idle_rich", # 1-row avg balance
    "small_qty_avg_revenue",     # 1-row conditional aggregate
    "decontaminate_ngram_overlap",  # broadcast bench-shingle panel
    "knn_join_topk",             # broadcast query panel
    "ann_cosine_topk",           # broadcast 1-row query vector
    "ann_recall_eval",           # broadcast query panel
    "pagerank_knn_centrality",   # broadcast panel pair generator
    "semdedup_prune",            # broadcast centroids
    "cluster_balanced_sample",   # broadcast centroids
    "kmeans_assign",             # broadcast centroids
    "kmeans_converged_assign",   # broadcast centroids
    "ann_ivf_topk",              # broadcast centroid table
    "ann_ivf_kmeans_topk",       # broadcast trained centroids
    "ann_pq_topk",               # broadcast codebooks
    "embedding_quantize",        # broadcast scale row
    "dedup_embedding_cosine",    # broadcast plane signs
    "stratified_sample_agg",     # broadcast per-stratum thresholds
    "temperature_mixture_sample",  # broadcast budgets
    "mixture_token_budget",      # broadcast budgets
    "curriculum_schedule",       # broadcast offsets table
    "ranged_global_sort",        # broadcast offsets table
    "sequence_pack_bucketed",    # broadcast offsets table
    "corpus_rank_quality",       # broadcast vocabulary ranks
    "bpe_merge_sequence",        # 1-row winner broadcast per round
    "bpe_encode_tokens",         # broadcast trained segmentation
    "bpe_pair_counts",           # broadcast word-freq table
    "vocab_encode_checksum",     # broadcast vocab
    "lsh_recall_curve",          # 1-row recall summary join
    "minhash_estimate_error",    # staged pair artifact vs 1-row stats
    "source_contamination_matrix",  # staged artifact rollup
    "incremental_dedup_flags",   # broadcast batch signatures
    "dedup_keep_best",           # staged cluster map broadcast
    "shingle_novelty_score",     # 1-row corpus stats
    "cluster_split_assign",      # staged cluster map broadcast
    "dsir_select_topk",          # 1-row selection threshold
    "robust_outlier_flags",      # broadcast per-source fences
    "bloom_prefilter_join",      # 1-row bloom bitmap
    "table_profile",             # 1-row profile expand
    "agg_summary",               # 1-row summary cross
    "doc_embedding_pool",        # broadcast word-vector table
    "perplexity_filter",         # plan-literal LM (no join — safety)
    "winnow_overlap_pairs",      # 1-row DF cap stats
    "dup_span_coverage",         # 1-row span stats
    "dedup_cdc_chunks",          # 1-row corpus chunk stats
    "kmv_distinct_sketch",       # broadcast bottom-k table
    "filter_funnel_report",      # plan-literal models (safety)
    "sample_join_back",          # broadcast sampled keys
    "hll_distinct_sketch",       # 1-row register merge
    "histogram_quantile_sketch", # 1-row bin stats
    "countmin_sketch",           # 1-row sketch row
    "quantile_stats",            # 1-row percentile frame
    "theta_sketch_intersect",    # 1-row theta / exact-count broadcasts
    "hybrid_retrieval_fusion",   # 1-row query vector + 1-row BM25 stats
    "eval_confusion_metrics",    # broadcast O(classes) anchor panel
    "calibration_reliability_bins",  # same broadcast anchor panel
    "triangle_count_knn",        # broadcast panel pair generator (shared)
    "label_propagation_knn",     # same shared broadcast panel pair generator
    "harmonic_centrality_knn",   # same shared broadcast panel pair generator
    "quantile_normalize_scores", # 1-row corpus-total broadcast (N)
    "epoch_shuffle_interleave",  # 1-row corpus-total broadcast (N)
    "skyline_pareto_3d",         # non-equi anti-join against the broadcast
                                 # candidate frontier (output-sensitive,
                                 # Σ local frontier sizes — never the corpus)
    "key_skew_audit",            # 1-row skew stats broadcast
    "pmi_collocations",          # 1-row bigram total broadcast
    "community_lpa_ivf",         # same IVF broadcast centroid fan-out as
                                 # knn_graph_ivf (its edge generator); the
                                 # LPA rounds themselves are equi-joins
    "knn_graph_ivf",             # broadcast stride-centroid fan-out: the
                                 # build side is corpus/stride rows by
                                 # construction (the IVF coarse table, same
                                 # boundedness as the kmeans/lloyd assign
                                 # fan-out), pruned to `probes` rows/vector
                                 # by a Partial WindowGroupLimit
    "knn_graph_ivf_hier3",       # same fan-out one level up: the broadcast
                                 # build sides are the depth-2 branch seeds
                                 # (corpus/(stride·s·s2) rows) and the
                                 # branch-pruned super/cell tables — every
                                 # descent level is pruned map-side by its
                                 # own Partial WindowGroupLimit
    "pagerank_ivf_centrality",   # same IVF broadcast centroid fan-out as
    "harmonic_centrality_ivf",   # knn_graph_ivf (their shared edge
    "kcore_decompose_ivf",       # generator); rounds are equi-joins
    "triangle_count_ivf",        # same IVF fan-out; orientation + wedge
                                 # joins are plain equi-joins (degree
                                 # table never broadcast at corpus grain)
    "decontaminate_semantic_ivf",  # same IVF fan-out; the screen join is
                                   # a cid equi-join vs the panel cell map
    "ivf_cell_stats",            # same IVF fan-out + the 1-row global
                                 # rollup broadcast (agg_summary pattern)
    "hard_negative_mining",      # same IVF broadcast fan-out; the label
                                 # joins are id-equi-joins (BHJ)
    "ranking_eval_topk",         # same IVF broadcast fan-out; labels +
                                 # class sizes are BHJ equi-joins
}

@pytest.fixture(scope="module")
def plans(spark):
    out: dict[str, str] = {}
    for name, entry in _CATALOG.items():
        df = entry.spark_fn(spark, SF_SMALL)
        out[name] = df._jdf.queryExecution().executedPlan().toString()
    return out


def test_no_cartesian_products(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, f"cartesian products in: {bad}"


def test_bnlj_only_where_bounded(plans):
    bad = [
        n
        for n, p in plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in _BNLJ_OK
    ]
    assert not bad, (
        "unreviewed BroadcastNestedLoopJoin (add to _BNLJ_OK only with a "
        f"boundedness argument): {bad}"
    )


def test_no_single_task_global_windows(plans):
    # WindowExec with an empty partition spec drags every row to one task.
    # The pattern in the plan string is 'Window [...], [...ordering...]'
    # with no partition expressions: 'windowspecdefinition(' directly
    # preceded by the ordering only. Detect via the executed operator
    # header: 'Window [' ... '], [' ... '], []' is version-fragile, so we
    # look for WindowExec rows whose partition clause is empty.
    bad = []
    for n, p in plans.items():
        for m in re.finditer(r"\bWindow \[(.*?)\], \[(.*?)\](?:, \[(.*?)\])?", p):
            groups = [g for g in m.groups() if g is not None]
            # partition spec is the second-to-last bracket group when 3
            # groups print (exprs, partition, order); empty partition
            # prints as an empty group
            if len(groups) == 3 and groups[1].strip() == "":
                bad.append(n)
                break
    allowed = {
        # |partitions|-sized offsets tables: global window over ≤16 rows
        "ranged_global_sort", "curriculum_schedule",
        "sequence_pack_bucketed", "mixture_token_budget",
        "temperature_mixture_sample", "corpus_rank_quality",
        # rank windows over the two post-limit fusion arms (≤20 rows each,
        # bounded by the fusion depth constant, never the corpus)
        "hybrid_retrieval_fusion",
        # cumulative window over the price-bucket histogram (≤500 rows,
        # bounded by price-range/bucket-width — a distribution constant)
        "eval_auc_ranksum",
        # running-max window over the (score → max diversity) histogram
        # (≤ |score buckets| ≈ 190 rows, a score-formula constant)
        "skyline_pareto_docs",
        # |partitions|-sized offsets table (≤32 rows) for the ranged rank
        "epoch_shuffle_interleave",
    }
    bad = [n for n in bad if n not in allowed]
    assert not bad, f"single-task global window in: {bad}"
