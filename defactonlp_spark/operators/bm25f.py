"""Simple BM25F — multi-field retrieval (Zaragoza et al., CIKM 2004; the
scheme behind Lucene/Elasticsearch field boosting for title/anchor/body).

Pinned semantics (the DuckDB twin and the pytest scalar oracle implement
the same spec):

  Fields: a (doc_id, field, term, tf) relation plus per-(doc, field)
  lengths. The convenience splitter ``lead_body_fields`` derives two
  fields from one text column — ``lead`` = the first ``lead_n`` tokens
  (the web-page title/abstract proxy), ``body`` = the rest — so the
  operator is exercisable on any single-text corpus; a real deployment
  feeds its actual field columns through the same relation shape.

  avgdl_f = mean dl_f over docs HAVING field f
  tfn_f   = tf_f / (1 - b_f + b_f * dl_f / avgdl_f)     (field length norm)
  tfc     = sum over fields of w_f * tfn_f               (weighted combine)
  idf     = ln(1 + (N - df + 0.5)/(df + 0.5)), df = docs containing the
            term in ANY field (the field-agnostic document frequency)
  score   = sum over matched query terms of idf * tfc / (k1 + tfc)
  Ranking: round(score, 6) desc, doc_id asc (weighted sums tie exactly
  for identical field profiles — same pinning as RM3/collapse).

Scale shape: identical envelope to exhaustive BM25 — one scan of the
field-postings relation with the (query x field-stats) side broadcast, one
hash aggregate per (claim, term, doc) then per (claim, doc), window top-k.
The field dimension multiplies rows by |fields| (2 here), not by corpus
passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from defactonlp_spark.functions.tokenize import tokenize_tokens
from defactonlp_spark.operators.bm25 import topk

#: default field weights / length-norm b (lead boosted like a title)
BM25F_WEIGHTS = {"lead": 2.0, "body": 1.0}
BM25F_B = {"lead": 0.75, "body": 0.75}
BM25F_K1 = 1.2


def lead_body_fields(
    docs: DataFrame | None,
    lead_n: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens: DataFrame | None = None,
) -> DataFrame:
    """corpus -> field postings (doc_id, field, term, tf, dl_f): ``lead`` =
    tokens at pos < lead_n, ``body`` = the rest. Docs shorter than lead_n
    simply have no body rows (and no body length).

    ``tokens``: an existing positional (doc_id, pos, term) relation — when a
    session already holds one (the shared tokens fixture the phrase family
    serves from), pass it to skip this operator's own tokenize kernel; the
    field split is then pure JVM expression work over the cached relation."""
    if tokens is None:
        tokens = tokenize_tokens(docs, id_col=id_col, text_col=text_col)
    toks = tokens.withColumn(
        "field", F.when(F.col("pos") < lead_n, F.lit("lead")).otherwise(F.lit("body"))
    )
    tf = toks.groupBy("doc_id", "field", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dl = toks.groupBy("doc_id", "field").agg(F.count(F.lit(1)).cast("long").alias("dl_f"))
    return tf.join(dl, ["doc_id", "field"])


def score_bm25f(
    fpostings: DataFrame,
    qterms: DataFrame,
    k: int = 5,
    weights: dict | None = None,
    b: dict | None = None,
    k1: float = BM25F_K1,
) -> DataFrame:
    """Simple-BM25F top-k over a (doc_id, field, term, tf, dl_f) relation.

    Corpus statistics (N, per-field avgdl, field-agnostic df) are computed
    from ``fpostings`` itself — pass a stored relation to pin them, exactly
    like the single-field scorers take manifest stats.
    """
    w = weights or BM25F_WEIGHTS
    bb = b or BM25F_B
    n_docs_df = fpostings.select("doc_id").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    avgdl_f = (
        fpostings.select("doc_id", "field", "dl_f").distinct()
        .groupBy("field")
        .agg(F.avg("dl_f").alias("avgdl_f"))
    )
    dfreq = fpostings.select("term", "doc_id").distinct().groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )

    w_expr = F.create_map(*[x for kk, vv in w.items() for x in (F.lit(kk), F.lit(float(vv)))])
    b_expr = F.create_map(*[x for kk, vv in bb.items() for x in (F.lit(kk), F.lit(float(vv)))])

    q = qterms.join(dfreq, "term", "inner")
    tfn = (
        fpostings.join(F.broadcast(q), "term", "inner")
        .join(F.broadcast(avgdl_f), "field", "inner")
        .withColumn("_w", w_expr[F.col("field")])
        .withColumn("_b", b_expr[F.col("field")])
        .withColumn(
            "_tfn",
            F.col("_w")
            * F.col("tf").cast("double")
            / (F.lit(1.0) - F.col("_b") + F.col("_b") * F.col("dl_f") / F.col("avgdl_f")),
        )
    )
    per_term = tfn.groupBy("claim_id", "doc_id", "term").agg(
        F.sum("_tfn").alias("tfc"), F.first("df").alias("df")
    )
    scored = (
        per_term.crossJoin(F.broadcast(n_docs_df))
        .withColumn(
            "contrib",
            F.log1p((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * F.col("tfc") / (F.lit(float(k1)) + F.col("tfc")),
        )
        .groupBy("claim_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    return topk(scored, k, 6)


def score_combined_fields(
    fpostings: DataFrame,
    qterms: DataFrame,
    k: int = 5,
    weights: dict | None = None,
    k1: float = BM25F_K1,
    b: float = 0.75,
) -> DataFrame:
    """The ES ``combined_fields`` query (Lucene ``CombinedFieldQuery``,
    8.0+) — TERM-centric multi-field BM25, the principled alternative to
    per-field dis_max: the document is scored as if its fields were merged
    into one synthetic field, with per-field boosts applied to term
    frequencies AND lengths before ordinary BM25:

        tf_c(t, d) = sum_f w_f * tf_f(t, d)
        dl_c(d)    = sum_f w_f * dl_f(d)
        avgdl_c    = mean over all docs of dl_c
        idf        = ln(1 + (N - df + 0.5)/(df + 0.5)), df = any-field df
        score      = sum_t idf * tf_c*(k1+1) / (tf_c + k1*(1-b+b*dl_c/avgdl_c))

    One shared b/k1 (vs :func:`score_bm25f`'s per-field b) — exactly the
    published CombinedFieldQuery simplification of BM25F. Ranking pinned
    to (round(score, 6) desc, doc_id asc) like the BM25F path.

    Input relation and plan envelope are identical to
    :func:`score_bm25f`: one scan of (doc_id, field, term, tf, dl_f) with
    the query side broadcast; the weighted-merge aggregates ride the same
    hash-aggregate pipeline, so combined_fields costs the same single pass
    as plain BM25 over a pre-merged corpus would — the merge is virtual.
    """
    w = weights or BM25F_WEIGHTS
    w_expr = F.create_map(*[x for kk, vv in w.items() for x in (F.lit(kk), F.lit(float(vv)))])

    # per-doc combined length: sum_f w_f * dl_f (one row per doc)
    dlc = (
        fpostings.select("doc_id", "field", "dl_f").distinct()
        .withColumn("_w", w_expr[F.col("field")])
        .groupBy("doc_id")
        .agg(F.sum(F.col("_w") * F.col("dl_f")).alias("dl_c"))
    )
    stats = dlc.agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.avg("dl_c").alias("avgdl_c")
    )
    dfreq = fpostings.select("term", "doc_id").distinct().groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )

    q = qterms.join(dfreq, "term", "inner")
    tfc = (
        fpostings.join(F.broadcast(q), "term", "inner")
        .withColumn("_w", w_expr[F.col("field")])
        .groupBy("claim_id", "doc_id", "term")
        .agg(F.sum(F.col("_w") * F.col("tf")).alias("tf_c"), F.first("df").alias("df"))
    )
    scored = (
        tfc.join(dlc, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            F.log1p((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * F.col("tf_c") * F.lit(k1 + 1.0)
            / (
                F.col("tf_c")
                + F.lit(float(k1))
                * (F.lit(1.0 - b) + F.lit(float(b)) * F.col("dl_c") / F.col("avgdl_c"))
            ),
        )
        .groupBy("claim_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    return topk(scored, k, 6)


def score_multi_match_best_fields(
    fpostings: DataFrame,
    qterms: DataFrame,
    k: int = 5,
    boosts: dict | None = None,
    k1: float = BM25F_K1,
    b: float = 0.75,
    tie_breaker: float = 0.0,
) -> DataFrame:
    """The ES ``multi_match`` query in its DEFAULT ``best_fields`` mode:
    each field is scored as its OWN independent BM25 index (per-field df,
    per-field avgdl over docs having the field, per-field length norm),
    then per (claim, doc) the field scores combine dis_max-style:

        score = max_f boost_f*bm25_f + tie_breaker * (sum_f - max_f)

    ``tie_breaker=0`` (the ES default) is pure best-field — a doc whose
    TITLE matches the whole query beats a doc with the terms scattered
    across fields; contrast :func:`score_combined_fields` (term-centric
    merge) and :func:`score_bm25f` (per-field normalized sum). All three
    published multi-field semantics over the SAME (doc_id, field, term,
    tf, dl_f) relation.

    Per-field df and N (docs having the field) make each field a
    self-contained index exactly like an ES sub-query per field; idf uses
    the field's own doc count. One scan, broadcast query side; the
    per-field aggregate and the dis_max combine ride consecutive hash
    aggregates — same envelope class as the other multi-field scorers.
    """
    w = boosts or BM25F_WEIGHTS
    w_expr = F.create_map(*[x for kk, vv in w.items() for x in (F.lit(kk), F.lit(float(vv)))])

    fdocs = fpostings.select("doc_id", "field", "dl_f").distinct()
    fstats = fdocs.groupBy("field").agg(
        F.count(F.lit(1)).cast("double").alias("n_f"),
        F.avg("dl_f").alias("avgdl_f"),
    )
    fdf = fpostings.select("field", "term", "doc_id").distinct().groupBy(
        "field", "term"
    ).agg(F.count(F.lit(1)).cast("double").alias("df_f"))

    q = qterms.join(fdf, "term", "inner")  # (claim, term, field, df_f)
    per_field = (
        fpostings.join(F.broadcast(q), ["field", "term"], "inner")
        .join(F.broadcast(fstats), "field", "inner")
        .withColumn(
            "contrib",
            F.log1p((F.col("n_f") - F.col("df_f") + 0.5) / (F.col("df_f") + 0.5))
            * F.col("tf").cast("double") * F.lit(k1 + 1.0)
            / (
                F.col("tf").cast("double")
                + F.lit(float(k1))
                * (F.lit(1.0 - b) + F.lit(float(b)) * F.col("dl_f") / F.col("avgdl_f"))
            ),
        )
        .groupBy("claim_id", "doc_id", "field")
        .agg(F.sum("contrib").alias("fscore"))
        .withColumn("fscore", F.col("fscore") * w_expr[F.col("field")])
    )
    tb = float(tie_breaker)
    scored = per_field.groupBy("claim_id", "doc_id").agg(
        (
            F.max("fscore") + F.lit(tb) * (F.sum("fscore") - F.max("fscore"))
        ).alias("score")
    )
    return topk(scored, k, 6)
