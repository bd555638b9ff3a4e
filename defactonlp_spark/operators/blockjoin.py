"""Parent-child retrieval — the Lucene ``ToParentBlockJoinQuery`` /
Elasticsearch ``has_child`` / ``has_parent`` family, done relationally.

Lucene stores parent+children contiguously in one segment block and walks
live-doc bitmaps; the relational re-expression is two hash aggregates over
a child-granularity score relation, which Spark shuffles on exactly the
keys the query semantics require:

- ``has_child``: score every child against the query, aggregate child
  scores to the parent with ``score_mode`` in {max, sum, avg, min, none},
  gate on ``min_children``/``max_children`` (ES's bounds), top-k parents.
- ``has_parent``: score every parent against the query, propagate the
  parent's score to each of its children (ES ``score=true`` semantics —
  every child of a matching parent is a hit with the parent's score).

Scale notes (the 100 TB question): child scoring is the same single
postings scan + broadcast-query join as plain BM25 (``bm25.score_all``);
the parent rollup is ONE additional hash aggregate keyed by
(claim_id, parent_id) — partial aggregation map-side, no extra scan, no
join against the parent table at all unless the caller wants parent
payload columns. ``has_parent`` joins the (small, already top-k'd or
filtered) parent scores onto the child relation parent-key-first, so the
fan-out happens AFTER the selective side is reduced.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from defactonlp_spark.operators.bm25 import topk

_SCORE_MODES = {
    "max": F.max,
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
}


def score_has_child(
    child_scores: DataFrame,
    parent_of: Column,
    score_mode: str = "max",
    min_children: int = 1,
    max_children: int | None = None,
    k: int = 5,
    claim_col: str = "claim_id",
    rank_dp: int | None = None,
) -> DataFrame:
    """(claim_id, child_id, score) for ALL matching children -> top-k
    parents: (claim_id, rank, parent_id, score, n_children).

    ``child_scores`` must contain every matching child (use
    ``bm25.score_all``, not a top-k), because for score_mode in
    {sum, avg, min} a truncated child set changes the parent score.
    ``parent_of`` maps a child row to its parent id (a Column over
    ``child_scores``'s columns, e.g. ``F.col("doc_id") / 2**20``).
    ``score_mode="none"`` ranks matched parents constant-score (ES
    semantics), deterministically by parent_id.

    ``min_children``/``max_children`` replicate ES's has_child bounds and
    are evaluated over MATCHING children (the children this query scored),
    not all stored children — same as Elasticsearch.
    """
    if score_mode not in _SCORE_MODES and score_mode != "none":
        raise ValueError(f"score_mode must be one of {sorted(_SCORE_MODES)} or 'none'")
    agg = (
        F.lit(0.0)
        if score_mode == "none"
        else _SCORE_MODES[score_mode](F.col("score"))
    )
    parents = (
        child_scores.withColumn("parent_id", parent_of)
        .groupBy(claim_col, "parent_id")
        .agg(agg.alias("score"), F.count(F.lit(1)).alias("n_children"))
        .filter(F.col("n_children") >= min_children)
    )
    if max_children is not None:
        parents = parents.filter(F.col("n_children") <= max_children)
    return topk(
        parents, k, rank_dp, cols=(claim_col, "rank", "parent_id", "score", "n_children"),
        part=claim_col, tie="parent_id",
    )


def score_has_parent(
    parent_scores: DataFrame,
    children: DataFrame,
    parent_col: str = "parent_id",
    child_cols: tuple[str, ...] = ("child_id",),
    claim_col: str = "claim_id",
) -> DataFrame:
    """(claim_id, parent_id, score) x children(parent_id, child...) ->
    every child of a matching parent, carrying the parent's score
    (ES ``has_parent`` with ``score=true``).

    ``children`` is the parent->child relation; its ``parent_col`` joins
    against ``parent_scores``. The parent side is the selective one
    (already filtered/top-k'd by the caller), so it is broadcast when
    small; the child relation is never shuffled.
    """
    sel = [claim_col, parent_col, *child_cols, "score"]
    return (
        children.join(F.broadcast(parent_scores), parent_col, "inner")
        .select(*sel)
    )
