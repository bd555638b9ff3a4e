"""Learning-to-rank feature extraction (the Elasticsearch LTR / Lucene
feature-logging shape): for each claim's candidate documents, one row of
ranking features ready for downstream model training — the bridge between
the retrieval engine and the training-data pipeline.

Pinned feature set (the DuckDB twin computes identical values):
  candidates = BM25 top-k per claim (rank on round(score,6), doc_id)
  bm25        : the BM25 score (float64, rounded 4 in the harness output)
  lm_qlh      : Dirichlet query likelihood of the SAME (claim, doc) pair
                (operators/lm.py spec: matched-term sum + dl normalizer
                over in-collection query terms)
  n_matched   : distinct query terms present in the doc
  dl          : document length in tokens
  quality     : the quality-model score (functions/textstats.py, 6 dp)

Scale shape: the BM25 and LM scored relations are each one
``bm25.score_terms`` call (term-pruned postings scan, broadcast query side,
one hash aggregate); the candidate top-k window gates everything
downstream to claims x k rows, and quality joins doc-keyed onto that small
relation. Feature logging at serving time reuses the index paths
(query_exhaustive/_pruned_postings) with the same algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from defactonlp_spark.config import BM25Params
from defactonlp_spark.operators.bm25 import bm25_score_expr, score_terms, topk
from defactonlp_spark.operators.lm import lm_dirichlet_all


def ltr_features(
    postings: DataFrame,
    stats: DataFrame,
    cstats: DataFrame,
    qterms: DataFrame,
    quality: DataFrame,
    n_docs: int,
    avgdl: float,
    total_tokens: int,
    k: int = 10,
    mu: float = 2000.0,
    params: BM25Params = BM25Params(),
) -> DataFrame:
    """-> (claim_id, rank, doc_id, bm25, lm_qlh, n_matched, dl, quality).

    ``quality``: (doc_id, quality) — any per-doc static feature table
    (here the quality model; a deployment adds its click/link features the
    same doc-keyed way).
    """
    q = qterms.join(stats.select("term", "df"), "term", "inner")
    base = score_terms(
        postings, q, bm25_score_expr(n_docs, avgdl, params),
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.first("dl").cast("long").alias("dl"),
    ).withColumnRenamed("score", "bm25")
    cands = topk(
        base, k, 6, cols=("claim_id", "rank", "doc_id", "bm25", "n_matched", "dl"), key="bm25"
    )
    lm = lm_dirichlet_all(postings, cstats, qterms, total_tokens, mu).withColumnRenamed(
        "score", "lm_qlh"
    )
    return (
        cands.join(lm, ["claim_id", "doc_id"], "left")
        .join(quality.select("doc_id", "quality"), "doc_id", "left")
        .select(
            "claim_id", "rank", "doc_id", "bm25", "lm_qlh", "n_matched", "dl", "quality"
        )
    )


def rescore_topk(
    features: DataFrame,
    k: int = 5,
    query_weight: float = 0.7,
    rescore_weight: float = 0.3,
    dp: int = 4,
) -> DataFrame:
    """ES rescore-window semantics over an :func:`ltr_features` window:
    the cheap ranker (BM25) selects the top-N candidates, a second scorer
    (Dirichlet query likelihood) re-scores ONLY that window, and the
    final order is ``query_weight * bm25 + rescore_weight * lm_qlh``
    (the ES ``rescore.query_weight`` / ``rescore_query_weight`` combine).

    Portability: both features round to ``dp`` decimals BEFORE the single
    multiply-add, and ranking pins ties on (round(score, 6), doc_id) — the
    same device as score_boosted, so engines agree bit-for-bit on order.
    Docs the secondary scorer never matched keep lm_qlh = 0 (coalesce) —
    they stay in the window rather than vanishing (ES behavior).

    Cost shape: the window relation is |claims| x N rows — query-sized;
    the rescore adds ZERO corpus scans beyond the two the feature logger
    already made."""
    b = F.round("bm25", dp)
    l = F.round(F.coalesce(F.col("lm_qlh"), F.lit(0.0)), dp)
    combined = features.withColumn(
        "score", F.lit(float(query_weight)) * b + F.lit(float(rescore_weight)) * l
    )
    return topk(combined, k, 6)


#: Deterministic stand-in LTR model: a linear scorer over the pinned
#: feature set (weights chosen to be magnitude-sane for each feature's
#: scale; a deployment drops in trained LambdaMART/linear weights — the
#: application plumbing is identical). Shared verbatim with the DuckDB twin.
LTR_WEIGHTS = {
    "bm25": 0.55,
    "lm_qlh": 0.20,
    "n_matched": 0.15,
    "dl": -0.002,
    "quality": 1.5,
}


def ltr_rerank(
    features: DataFrame,
    weights: dict[str, float] | None = None,
    k: int = 5,
) -> DataFrame:
    """Apply a (linear) LTR model to logged features and re-rank — the
    serving half of the ES LTR plugin's rescorer: retrieve with BM25, log
    features for the top-N window, score with the model, reorder.

    ``features``: :func:`ltr_features` output (claims x N rows, metadata-
    scale — the model application costs nothing next to retrieval).
    model_score = sum_f w_f * feature_f; ranking pinned
    (round(model_score, 6) desc, doc_id asc).
    -> (claim_id, rank, doc_id, model_score, bm25_rank)
    """
    w = LTR_WEIGHTS if weights is None else weights
    score = None
    for fname, wt in sorted(w.items()):
        term = F.col(fname).cast("double") * F.lit(float(wt))
        score = term if score is None else score + term
    scored = features.withColumn("model_score", score).withColumn(
        "bm25_rank", F.col("rank").cast("long")
    )
    cols = ("claim_id", "rank", "doc_id", "model_score", "bm25_rank")
    return topk(scored, k, 6, cols=cols, key="model_score")
