"""Iterative BPE tokenizer induction as a declarative merge loop.

The corpus collapses ONCE to the (vocabulary-bounded) word-frequency table —
the only corpus-scale shuffle — and every merge round then runs over that
tiny table: segmentations live as sentinel-delimited strings, adjacent-pair
candidates come from a bounded explode, the winning pair is an
``ORDER BY n DESC, a, b LIMIT 1`` (deterministic tie-break), and the
re-segmentation is one literal ``replace`` whose left-to-right
non-overlapping scan is exactly the classic BPE merge loop
(``while i < len: if (w[i], w[i+1]) == pair: merge; i += 2 else i += 1`` —
the merged token can never re-match as the LEFT of the same pair, since that
would need an empty right symbol). No driver-side collect: each round's
best pair is a 1-row broadcast joined into the next segmentation, and the
merge table is the union of those 1-row frames.

At 100 TB the loop cost is independent of corpus size (|vocab| rows per
round); lineage across rounds is cut with lazy pins (io.tables.pin), the
same treatment as operators/dedup.connected_components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gridiron_spark.io.tables import pin

# Sentinel delimiting symbols inside the packed segmentation string. Must
# be absent from the corpus alphabet (the documents tables are space +
# lowercase ASCII; asserted for the toy path by the pytest). Every symbol
# is WRAPPED in it (``¤sym¤``), so a merge pattern ``¤a¤¤b¤`` can only
# match exact symbols: a prefix-only scheme (``¤a¤b``, the round-1..9
# format) false-matched when the RIGHT symbol was a strict prefix of
# another symbol — hypothesis found ``¤c¤b`` merging inside ``¤c¤bb``
# (round 10). Wrapping closes both sides; adjacent merges still chain
# left-to-right because each replacement re-emits its closing sentinel.
SENTINEL = "¤"


def word_freq(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq): the corpus→vocabulary collapse (lower, split on space).
    Map-side combined; the one corpus-sized aggregation of the whole loop.
    fan_out: split+explode+partial-agg are narrow, so a single-file scan
    would tokenize on ONE core (guide §2.4; no-op at scale)."""
    from gridiron_spark.io.tables import fan_out

    return (
        fan_out(docs)
        .select(F.explode(F.split(F.lower(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _run_bpe(
    wc: DataFrame, n_merges: int
) -> tuple[list[DataFrame], DataFrame]:
    """The shared merge loop: returns (per-step 1-row winner frames, the
    final per-word segmentation (word, freq, seg)).

    Each round's ≤1-row winner and the seg0 corpus aggregate are pinned
    lazily so no consumer pair recomputes them (round 14, guide §5). The
    pins truncate the STATIC plan, so the plan-shape guard swaps
    :func:`pin` for the identity to assert the per-round operator
    structure on the untruncated dataflow — the pins change only where
    lineage is cut, never which operators run."""
    # pinned: seg0 is the corpus-sized word_freq aggregate — round 1's
    # pair count AND the round-1 re-segmentation both consume it, and
    # without the pin each ran the corpus tokenize+agg separately
    # (round 14, guide §5 recompute)
    seg = pin(
        wc.select(
            "word",
            "freq",
            F.regexp_replace("word", "(.)", SENTINEL + "$1" + SENTINEL).alias(
                "seg"
            ),
        ),
        eager=False,
    )
    merge_steps: list[DataFrame] = []
    for step in range(1, n_merges + 1):
        syms = seg.select(
            "freq",
            F.filter(F.split("seg", SENTINEL), lambda s: s != "").alias("syms"),
        )
        # sequence(1, 0) is DESCENDING in Spark (would fabricate pairs for
        # 1-symbol words) — filter before the fan-out, like bpe_pair_counts.
        pairs = (
            syms.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(element_at(syms, i) AS a,"
                        "             element_at(syms, i + 1) AS b))"
                    )
                ).alias("p"),
            )
            .select("p.a", "p.b", "freq")
            .groupBy("a", "b")
            .agg(F.sum("freq").alias("n"))
        )
        # pinned: the ≤1-row winner feeds BOTH this step's output row and
        # the re-segmentation's broadcast build below — unpinned, each
        # consumer re-ran the round's explode+aggregate (round 14: the
        # per-round pair count was computed twice; guide §5)
        best = pin(
            pairs.orderBy(F.col("n").desc(), "a", "b").limit(1), eager=False
        )
        merge_steps.append(
            best.select(
                F.lit(step).alias("step"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.concat("a", "b").alias("merged"),
                F.col("n").cast("bigint").alias("n"),
            )
        )
        # vocab-sized, but 8 rounds of explode+agg+join would stack into
        # one deep plan — cut lineage per round like connected_components
        seg = pin(
            # LEFT join against the (≤1-row) winner, not a crossJoin: if a
            # round finds no candidate pair (vocabulary fully merged / all
            # single-symbol words) the winner frame is EMPTY, and a cross
            # join would wipe every remaining segmentation. With the left
            # join the null pattern makes replace() null and the coalesce
            # keeps the segmentation unchanged — reference BPE's behavior
            # (training just stops producing merges). The oracle replays
            # the same LEFT JOIN + COALESCE, so parity holds either way.
            seg.join(
                F.broadcast(
                    best.select(F.col("a").alias("_ba"), F.col("b").alias("_bb"))
                ),
                on=F.lit(True),
                how="left",
            )
            .select(
                "word",
                "freq",
                F.coalesce(
                    F.replace(
                        F.col("seg"),
                        F.concat(
                            F.lit(SENTINEL), F.col("_ba"), F.lit(SENTINEL),
                            F.lit(SENTINEL), F.col("_bb"), F.lit(SENTINEL),
                        ),
                        F.concat(
                            F.lit(SENTINEL), F.col("_ba"), F.col("_bb"),
                            F.lit(SENTINEL),
                        ),
                    ),
                    F.col("seg"),
                ).alias("seg"),
            ),
            eager=False,
        )
    return merge_steps, seg


def bpe_merge_table(wc: DataFrame, n_merges: int) -> DataFrame:
    """Run ``n_merges`` BPE rounds over a (word, freq) table; return the
    merge table (step, left_sym, right_sym, merged, n) — the tokenizer
    artifact. If the vocabulary merges to single symbols early, later
    rounds emit no row (on both engines identically)."""
    merge_steps, _ = _run_bpe(wc, n_merges)
    out = merge_steps[0]
    for m in merge_steps[1:]:
        out = out.unionAll(m)
    return out


def bpe_segmentations(wc: DataFrame, n_merges: int) -> DataFrame:
    """The ENCODE side of the trained tokenizer: each vocabulary word's
    final segmentation after ``n_merges`` merges, as (word, n_syms) — the
    lookup a corpus encode broadcasts against (vocab-sized, like the top-K
    table in vocab_encode_checksum)."""
    _, seg = _run_bpe(wc, n_merges)
    return seg.select(
        "word",
        F.size(
            F.filter(F.split("seg", SENTINEL), lambda s: s != "")
        ).cast("bigint").alias("n_syms"),
    )
