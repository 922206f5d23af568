"""Physical-plan guards for the decorrelated TPC-H subquery shapes.

These assert the SCALE properties, not results (oracle parity covers those):
the fact table is shuffled only on its own aggregation keys, every dimension
side is a broadcast hash join, and no sort-merge join sneaks in when stats
change. A regression here means a plan that still passes correctness at
sf0.01 but falls over at 100 TB — exactly the failure mode tests must catch
early. PLANS.md records the audited plans these guards freeze.
"""

from __future__ import annotations

import re

import pytest

from gridiron_spark.queries import catalog
from tests.conftest import SF_ORACLE, use_identity_pin

_CATALOG = catalog()

# query -> (expected data shuffles, minimum broadcast joins)
# "data shuffle" = Exchange hashpartitioning / SinglePartition / rangepartitioning
# (BroadcastExchange excluded — broadcasting a dim is the point).
_SHAPES = {
    # lineitem agg (partial+final = 1 exchange) + priority agg
    "priority_exists_count": (2, 2),
    # (partkey,suppkey) agg + partkey window reshuffle of the deduped relation
    "min_cost_supplier": (2, 5),
    # partkey agg + SinglePartition window total over aggregated rows
    "important_part_value": (2, 1),
    # (partkey,suppkey) agg + suppkey distinct
    "excess_shipped_suppliers": (2, 2),
    # one map-side-combined register agg
    "hll_distinct_sketch": (1, 0),
    "countmin_sketch": (1, 0),
}


def _plan_of(spark, name: str) -> str:
    df = _CATALOG[name].spark_fn(spark, SF_ORACLE)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(_SHAPES))
def test_plan_shape(spark, name):
    plan = _plan_of(spark, name)
    shuffles = len(
        re.findall(r"Exchange (?:hash|range)partitioning|Exchange SinglePartition", plan)
    )
    broadcasts = plan.count("BroadcastHashJoin")
    want_shuffles, min_broadcasts = _SHAPES[name]
    assert shuffles == want_shuffles, f"{name}: {shuffles} data shuffles\n{plan}"
    assert broadcasts >= min_broadcasts, f"{name}: {broadcasts} broadcast joins"
    assert "SortMergeJoin" not in plan, f"{name}: unexpected sort-merge join"


def test_resize_is_pure_projection(spark):
    """multimodal_resize must stay a scan+filter+project — zero shuffles,
    zero joins: resize decisions are metadata-only, payload never moves."""
    plan = _plan_of(spark, "multimodal_resize")
    assert not re.findall(
        r"Exchange (?:hash|range)partitioning|Exchange SinglePartition", plan
    ), plan
    assert "Join" not in plan, plan


@pytest.mark.parametrize("name", ["dedup_ngram_prefix", "corpus_clean_pipeline"])
def test_dedup_joins_are_equi_joins(spark, name):
    """The prefix-filtered candidate generation must remain key-equi-joins
    (hash/sort exchanges bounded by bucket sizes) — a CartesianProduct or
    nested-loop join here means the blocking broke and the plan is
    quadratic at scale. (Exact shuffle counts are AQE/stat-dependent for
    these multi-stage DAGs, so only the join *kinds* are frozen.)"""
    plan = _plan_of(spark, name)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q20_shipdate_filter_is_pushable(spark):
    """The Q20 ship-date window must reach the parquet scan as a range
    predicate (row-group min/max skipping) — `year(col)=...` would not."""
    plan = _plan_of(spark, "excess_shipped_suppliers")
    m = re.search(r"PushedFilters: \[[^\]]*l_shipdate[^\]]*\]", plan)
    assert m, f"no pushed l_shipdate filter in:\n{plan}"
    assert "GreaterThanOrEqual(l_shipdate" in m.group(0)
    assert "LessThan(l_shipdate" in m.group(0)


def test_knn_join_uses_partial_window_group_limit(spark):
    """knn_join_topk's scale contract: query side broadcast (no shuffle of
    the corpus for scoring) and a *Partial* WindowGroupLimit ahead of the
    qid exchange, so each map task ships at most |Q|×k rows. If the partial
    limit disappears (rank pushdown regression), the plan silently shuffles
    all |Q|×|corpus| scored rows."""
    plan = _plan_of(spark, "knn_join_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert re.search(r"WindowGroupLimit.*Partial", plan), plan
    assert "CartesianProduct" not in plan, plan


def test_decontaminate_bench_side_broadcast(spark):
    """The benchmark side must broadcast (corpus joins map-side) and the
    train branch must not pay a (doc_id, shingle) dedup exchange — dedup is
    absorbed by COUNT(DISTINCT) after the join."""
    plan = _plan_of(spark, "decontaminate_ngram_overlap")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_sequence_pack_no_single_partition_window(spark):
    """sequence_pack_bucketed's per-bucket numbering must go through the
    range-exchange + broadcast-offsets path: a window partitioned only by
    bucket_len (≈8 groups, each corpus/8 rows on ONE task) must not exist.
    The offsets prefix-sum window partitioned by bucket_len is fine — it
    runs over the |partitions × buckets| offsets table."""
    plan = _plan_of(spark, "sequence_pack_bucketed")
    # (the upstream rangepartitioning exchange is hidden behind the
    # localCheckpoint boundary — the plan shows Scan ExistingRDD — so assert
    # on what is visible downstream of it)
    assert "BroadcastHashJoin" in plan, plan
    # the big-side window must be keyed by (pid, bucket_len), never by
    # bucket_len alone over the full corpus
    assert re.search(r"row_number\(\) windowspecdefinition\(pid", plan), plan
    assert not re.search(
        r"row_number\(\) windowspecdefinition\(bucket_len", plan
    ), plan


def test_mixture_no_single_partition_source_window(spark):
    """mixture_token_budget's running totals must never window over a bare
    source partition of the corpus (few sources ⇒ single-task extents); the
    big-side cumulative sum is keyed by (_pid, source) and the budget table
    broadcasts."""
    plan = _plan_of(spark, "mixture_token_budget")
    assert "BroadcastHashJoin" in plan, plan
    assert re.search(r"windowspecdefinition\(_pid", plan), plan
    assert not re.search(r"sum\([^)]*\) windowspecdefinition\(source#\d+, ord", plan), plan


def test_training_pipeline_joins_stay_bounded(spark):
    """The composed pipeline must keep every join either broadcast (bench
    shingles, contaminated set, budgets) or key-equi — a sort-merge or
    nested-loop join at a stage boundary means a shrink-only set got
    treated as corpus-sized. The grouped_running_sum checkpoints hide the
    upstream stages in the executed plan (Scan ExistingRDD), so this guard
    covers the visible tail; the component stages are frozen by their own
    entries' guards (decontaminate / mixture / sequence_pack above)."""
    plan = _plan_of(spark, "training_data_pipeline")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_incremental_dedup_joins_equi_only(spark):
    """Incremental screening must stay band-key equi-joins + signature
    joins — nothing corpus-quadratic, no nested-loop fallback."""
    plan = _plan_of(spark, "incremental_dedup_flags")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ann_recall_eval_group_limits(spark):
    """Both top-10s in the recall evaluation must go through the Partial
    WindowGroupLimit tree so only bounded candidates shuffle."""
    plan = _plan_of(spark, "ann_recall_eval")
    assert re.search(r"WindowGroupLimit.*Partial", plan), plan
    assert "CartesianProduct" not in plan, plan


def test_no_timezone_dependent_expressions():
    """No query may call a session-timezone-dependent time function.

    The driver hands in its own SparkSession, so ``unix_timestamp`` /
    ``from_unixtime`` / ``current_*`` read whatever timezone that session
    carries — green-on-UTC queries would flip red on a non-UTC driver
    host. All epoch math must be day/µs arithmetic (datediff*86400,
    timestampdiff against an NTZ literal — io/tables.py:56 pattern).
    Source-level guard: comments are stripped before matching.
    """
    import pathlib

    banned = re.compile(
        r"\b(unix_timestamp|from_unixtime|current_timestamp|current_date|"
        r"localtimestamp|now)\s*\("
    )
    pkg = pathlib.Path(__file__).resolve().parent.parent / "gridiron_spark"
    hits = []
    for path in pkg.rglob("*.py"):
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if banned.search(code):
                hits.append(f"{path.relative_to(pkg.parent)}:{lineno}: {line.strip()}")
    assert not hits, "timezone-dependent expressions:\n" + "\n".join(hits)


# the only zip_with calls outside functions/vectors.py: neither folds a
# product, a distance or an agreement count
_ZIP_WITH_ALLOWED = {
    "gridiron_spark/queries/dedup.py",  # content-defined chunk substrings
    "gridiron_spark/queries/tpch_extra.py",  # higher_order_functions demo
}


def test_array_kernels_live_in_vectors():
    """Every array kernel (dot, distance, agreement count) is written once,
    in functions/vectors.py; a query calls it instead of rolling its own
    ``F.zip_with`` fold. Source-level guard: comments are stripped before
    matching."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "gridiron_spark"
    hits = []
    for path in pkg.rglob("*.py"):
        rel = path.relative_to(pkg.parent).as_posix()
        if rel == "gridiron_spark/functions/vectors.py":
            continue
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            if "F.zip_with(" in line.split("#", 1)[0]:
                hits.append((rel, lineno))
    outside = [f"{r}:{n}" for r, n in hits if r not in _ZIP_WITH_ALLOWED]
    assert not outside, "zip_with outside functions/vectors.py:\n" + "\n".join(outside)
    assert sorted(r for r, _ in hits) == sorted(_ZIP_WITH_ALLOWED)


def test_staged_pair_consumers_reuse_artifact(spark):
    """The curation reports must answer from the staged candidate-pair
    parquet, not re-mine candidates: minhash_estimate_error is a pure
    scan+project (ZERO exchanges, zero joins — nobody re-featurizes a
    100 TB corpus to grade an estimator), and the contamination matrix
    broadcasts the (overlap-sized) pair side into the doc→source map with
    exactly one aggregation exchange."""
    est = _plan_of(spark, "minhash_estimate_error")
    assert "Exchange" not in est, est
    assert "Join" not in est, est
    mat = _plan_of(spark, "source_contamination_matrix")
    assert "SortMergeJoin" not in mat, mat
    assert "CartesianProduct" not in mat, mat
    assert mat.count("BroadcastHashJoin") == 2, mat


def test_semdedup_single_assignment_pass(spark):
    """SemDeDup references the cluster assignment three times; the lineage
    cut must hold it to ONE materialized pass — no broadcast-distance
    fan-out (BroadcastNestedLoopJoin) may survive into the outer plan, and
    the pairwise stage self-joins on the cluster key (bounded SMJs), never
    cartesian."""
    plan = _plan_of(spark, "semdedup_prune")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("SortMergeJoin") <= 2, plan


def test_bpe_loop_stays_vocab_bounded(spark, monkeypatch):
    """Each BPE round must pick its winner through TakeOrderedAndProject
    (limit-1 top-k, never a full sort) and join nothing corpus-sized: no
    sort-merge joins, no cartesian products anywhere in the 8-round plan.

    The per-round structure is asserted on the unpinned build (io.tables.pin
    swapped for the identity): the production form (round 14) lazily pins
    each round's 1-row winner so its two consumers share one computation,
    which truncates the STATIC plan at the pins — the pins change where
    lineage is cut, not which operators run, so the structural guard
    inspects the untruncated dataflow and the production plan keeps the
    join-shape assertions. Unpinned, every round's segmentation re-derives
    the earlier rounds' winners, so the winner count is checked per step:
    each step's plan must be rooted at its round's limit-1 top-k."""
    from gridiron_spark.io.tables import load_table
    from gridiron_spark.operators.bpe import _run_bpe, word_freq

    doc = load_table(spark, SF_ORACLE, "documents")
    with monkeypatch.context() as m:
        use_identity_pin(m)
        steps, _ = _run_bpe(word_freq(doc), 8)
        out = steps[0]
        for step in steps[1:]:
            out = out.unionAll(step)
        plan = out._jdf.queryExecution().executedPlan().toString()
        roots = [
            st._jdf.queryExecution().executedPlan().toString().splitlines()[1]
            for st in steps
        ]
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert len(roots) == 8
    for root in roots:
        assert root.startswith("+- TakeOrderedAndProject(limit=1,"), root
    assert set(re.findall(r"TakeOrderedAndProject\((limit=\d+)", plan)) == {
        "limit=1"
    }, plan
    # production (pinned) plan: same join-shape guarantees
    pplan = _plan_of(spark, "bpe_merge_sequence")
    assert "CartesianProduct" not in pplan, pplan
    assert "SortMergeJoin" not in pplan, pplan


def test_codec_roundtrips_map_only(spark):
    """Both codec-proof entries are synth→pack→decode→stats per row: pure
    Arrow-batched map stages over the id scan — zero shuffles, zero joins.
    At 100 TB a decode pass runs at scan speed or it doesn't run."""
    for q in (
        "multimodal_wav_roundtrip",
        "multimodal_ppm_roundtrip",
        "multimodal_png_roundtrip",
    ):
        plan = _plan_of(spark, q)
        assert "Exchange" not in plan, (q, plan)
        assert "Join" not in plan, (q, plan)


def test_no_rdd_access_in_package():
    """No query path may touch ``.rdd`` (or SparkContext RDD constructors):
    converting a DataFrame to an RDD materializes the analyzed plan just to
    ask a question the DataFrame API answers, and drops out of
    Catalyst/Tungsten entirely. fan_out's partition probe (the one historic
    use) is now a plan-free file-size estimate — io/tables.py. AST-level
    guard so docstrings/comments don't count."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "gridiron_spark"
    hits = []
    for path in pkg.rglob("*.py"):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr in (
                "rdd", "parallelize", "emptyRDD",
            ):
                hits.append(f"{path.relative_to(pkg.parent)}:{node.lineno}")
    assert not hits, "RDD access in package source:\n" + "\n".join(hits)


def test_redact_pii_is_map_only(spark):
    """PII redaction must stay a pure projection — zero shuffles, zero
    joins: at 100 TB it runs at scan speed."""
    plan = _plan_of(spark, "text_redact_pii")
    assert not re.findall(
        r"Exchange (?:hash|range)partitioning|Exchange SinglePartition", plan
    ), plan
    assert "Join" not in plan, plan


def test_doc_embedding_pool_map_only(spark):
    """Embedding generation must be a pure map over the corpus scan: the
    per-dim folds and the width-16 posexplode are narrow — zero shuffles,
    zero joins at any corpus size."""
    plan = _plan_of(spark, "doc_embedding_pool")
    assert not re.findall(
        r"Exchange (?:hash|range)partitioning|Exchange SinglePartition", plan
    ), plan
    assert "Join" not in plan, plan


def test_model_quality_score_is_map_only(spark):
    """The linear-classifier inference pass must be a pure map over the
    corpus scan — the weight vector is a plan literal and the score is a
    higher-order fold, so there is nothing to shuffle, join, or explode."""
    plan = _plan_of(spark, "model_quality_score")
    assert not re.findall(
        r"Exchange (?:hash|range)partitioning|Exchange SinglePartition", plan
    ), plan
    assert "Join" not in plan, plan
    assert "Generate" not in plan, plan  # no explode — array fold only


def test_boilerplate_joins_stay_bounded(spark):
    """The frequent-phrase table must broadcast into the gram stream (the
    corpus side never shuffles for the join), and nothing may go
    cartesian. The single BroadcastNestedLoopJoin is the 1-row corpus-count
    threshold join — constant-size by construction."""
    plan = _plan_of(spark, "boilerplate_phrase_flags")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_temperature_sample_no_source_window(spark):
    """Per-source numbering must ride the range-exchange prefix-sum (few
    sources ⇒ a bare source window would single-task the corpus)."""
    plan = _plan_of(spark, "temperature_mixture_sample")
    assert re.search(r"windowspecdefinition\(_pid", plan), plan
    assert not re.search(
        r"row_number\(\) windowspecdefinition\(source#\d+,", plan
    ), plan
    assert "BroadcastHashJoin" in plan, plan


def test_table_profile_single_scan(spark):
    """The profile must read the table ONCE: multi-COUNT(DISTINCT) compiles
    to one scan + Expand, never |cols| scans."""
    plan = _plan_of(spark, "table_profile")
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan, plan


def test_kmeans_assign_group_limit(spark):
    """The argmin must ride the Partial WindowGroupLimit tree (rank-1 per
    vector pruned before the shuffle) with the centroid side broadcast —
    never a sort-merge or cartesian fan-in."""
    plan = _plan_of(spark, "kmeans_assign")
    assert re.search(r"WindowGroupLimit.*Partial", plan), plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # k-row broadcast fan-out


def test_dup_span_coverage_shape(spark):
    """Span dedup: 3 linear shuffles (gram-assembly window, global gram
    count, per-doc interval-union window) with the duplicated-span set
    joining back as a broadcast — never a corpus-side shuffle join or a
    cartesian."""
    plan = _plan_of(spark, "dup_span_coverage")
    shuffles = len(re.findall(
        r"Exchange (?:hash|range)partitioning|Exchange SinglePartition", plan
    ))
    assert shuffles == 3, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan, plan


def test_bpe_pair_counts_vocab_first(spark):
    """Tokenizer induction must aggregate corpus→vocab BEFORE the pair
    fan-out: exactly 2 shuffles (word agg, pair agg) and a tree top-k —
    a third shuffle would mean the explosion ran over corpus rows."""
    plan = _plan_of(spark, "bpe_pair_counts")
    shuffles = len(re.findall(
        r"Exchange (?:hash|range)partitioning|Exchange SinglePartition", plan
    ))
    assert shuffles == 2, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_asof_forward_single_shuffle(spark):
    """The forward as-of must stay one user_id exchange + sorted window —
    the tolerance is a projection, never a range join."""
    plan = _plan_of(spark, "asof_forward_tolerance")
    shuffles = len(re.findall(
        r"Exchange (?:hash|range)partitioning|Exchange SinglePartition", plan
    ))
    assert shuffles == 1, plan
    assert "Join" not in plan, plan


def test_novelty_has_no_pair_fanout(spark):
    """shingle_novelty_score must never multiply rows: no self-join on the
    shingle key (that's the pair generators' job), no cartesian — just the
    DF aggregate, the join-back, and the per-doc aggregate."""
    plan = _plan_of(spark, "shingle_novelty_score")
    assert "CartesianProduct" not in plan, plan
    # one shuffle join (inverted index ⋈ DF) + two aggregation exchanges
    assert plan.count("SortMergeJoin") <= 1, plan


def test_corpus_rank_no_single_task_window(spark):
    """The vocabulary-wide frequency rank must go through the range-exchange
    running sum — a bare global row_number would single-task the corpus
    vocabulary. Guard: no Exchange SinglePartition feeding a Window."""
    import re

    plan = _plan_of(spark, "corpus_rank_quality")
    assert not re.search(r"Exchange SinglePartition[\s\S]{0,400}?Window", plan), plan


def test_filter_funnel_single_scan_single_shuffle(spark):
    """The three-gate funnel must cost ONE corpus scan and ONE
    map-side-combined aggregate — all three models ride as plan
    literals, so no joins, no explode, no second scan."""
    plan = _plan_of(spark, "filter_funnel_report")
    shuffles = re.findall(
        r"Exchange (?:hash|range)partitioning|Exchange SinglePartition", plan
    )
    assert len(shuffles) == 1, plan
    assert "Join" not in plan, plan
    assert "Generate explode" not in plan, plan
    assert plan.count("FileScan") == 1, plan


def test_zorder_single_shuffle_no_join(spark):
    """The Z-order layout stats are one integer map + one bounded
    aggregate: 1 shuffle, 0 joins, and the scan prunes to the two key
    columns."""
    plan = _plan_of(spark, "zorder_layout_sort")
    shuffles = re.findall(
        r"Exchange (?:hash|range)partitioning|Exchange SinglePartition", plan
    )
    assert len(shuffles) == 1, plan
    assert "Join" not in plan, plan
    assert "o_totalprice" not in plan, "scan must prune to custkey+date"


def test_bm25_no_corpus_explode(spark):
    """BM25 over a literal query panel must NOT explode the corpus: tf
    comes from per-row array filters (a |panel|-row stack), df and the
    length stats broadcast back, and the top-k is a TakeOrdered — no
    sort-merge join, no cartesian."""
    plan = _plan_of(spark, "bm25_search_topk")
    assert "Generate explode" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dhash_band_join_is_equi(spark):
    """The perceptual-hash candidate join must key on the 16-bit band
    values (hash-partitionable at any scale) — never a cartesian or
    nested-loop pair enumeration."""
    plan = _plan_of(spark, "image_dhash_neardup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pagerank_rounds_stay_bounded(spark):
    """Four unrolled power-iteration rounds = exactly four aggregate
    shuffles (plus broadcast joins back to the node list); the edge list
    is pre-materialized by localCheckpoint so the O(n^2) generator runs
    ONCE and never re-enters the iteration lineage."""
    from gridiron_spark.queries.similarity import _PR_ITERS

    plan = _plan_of(spark, "pagerank_knn_centrality")
    # hash/range exchanges move DATA; the SinglePartition exchanges Spark
    # injects here are 8 MB bloom-filter builds (runtime filters for the
    # broadcast joins), constant-size at any corpus
    shuffles = re.findall(r"Exchange (?:hash|range)partitioning", plan)
    assert len(shuffles) == _PR_ITERS, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_domain_cap_partial_window_group_limit(spark):
    """domain_cap_keep's scale contract: the keep rank must plant a
    *Partial* WindowGroupLimit before the domain exchange (each map task
    forwards at most cap rows per domain — the Zipf-hot domain never
    concentrates in one task's sort), and no quadratic join kind may
    appear anywhere."""
    plan = _plan_of(spark, "domain_cap_keep")
    assert re.search(r"WindowGroupLimit.*Partial", plan), plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_domain_rollup_bench_broadcast_one_domain_agg(spark):
    """domain_contamination_rollup: the benchmark shingle set must
    broadcast (the corpus-side contamination join is map-side, like
    decontaminate_ngram_overlap) and the rollup must touch the corpus
    with equi-joins only — no cartesian/BNLJ, no sort-merge join."""
    plan = _plan_of(spark, "domain_contamination_rollup")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_prefix_prune_rank_window_is_partial(spark):
    """semdedup_prefix_prune's comparison side must ride a Partial
    WindowGroupLimit (each map task forwards <= R rows per cluster
    before the exchange) — the Sigma R*|cluster| bound's plan shape."""
    plan = _plan_of(spark, "semdedup_prefix_prune")
    assert re.search(r"WindowGroupLimit.*Partial", plan), plan


def test_hard_negative_rank_is_partial_group_limit(spark):
    """hard_negative_mining's per-anchor top-k must prune map-side, and
    the label joins must stay equi-joins (no cartesian against the
    corpus)."""
    plan = _plan_of(spark, "hard_negative_mining")
    assert re.search(r"WindowGroupLimit.*Partial", plan), plan
    assert "CartesianProduct" not in plan


def test_drift_monitor_single_scan_no_join(spark):
    """embedding_drift_monitor is ONE linear pass: no join anywhere and
    exactly one parquet scan of the embeddings table."""
    plan = _plan_of(spark, "embedding_drift_monitor")
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan
