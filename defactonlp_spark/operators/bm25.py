"""B6 — exhaustive BM25 scoring (the oracle path) + query-side helpers.

Pinned query semantics (must match WAND and the pytest numpy oracle):
- query terms = DISTINCT tokens of the claim (query-side tf is ignored);
- idf = ln(1 + (N - df + 0.5)/(df + 0.5)) with N/avgdl taken from the build
  manifest (NOT recomputed at query time — block-max bounds were computed
  with the build stats, and parity requires one consistent pair);
- score = sum of per-term contributions, float64;
- ranking: score desc, doc_id asc; top-k per claim.

This path is pure DataFrame algebra (broadcast join + hash aggregate +
window top-k) — Catalyst handles partial aggregation and the small query
side is broadcast, so the only full pass is the postings scan. That plan
is written once: :func:`score_terms` (scan + broadcast + aggregate) and
:func:`topk` (the per-claim window). Every postings scorer in the engine
(BM25 variants here, the Lucene similarity families in ``lm.py``, the
weighted/RM3 pass in ``expansion.py``) is a ``contrib`` column expression
over the joined (term, doc_id, tf, dl, <query-side stats>) row plus
whatever it does between those two calls.

Reference analog (public, file-level): DrQA
``drqa/retriever/tfidf_doc_ranker.py::closest_docs`` — sparse dot product
over the CSR matrix + argpartition (SURVEY.md §2.A10/A11).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from defactonlp_spark.config import BM25Params
from defactonlp_spark.functions.tokenize import _batch_postings, tokenize_postings


def claim_pairs(
    claims: DataFrame, id_col: str = "claim_id", text_col: str = "claim"
) -> pd.DataFrame | DataFrame:
    """claims -> distinct (``id_col``, ``term``) pairs, kept where the batch
    already is.

    A batch already in driver memory — ``claims.isLocal()``, which is what
    ``spark.createDataFrame(pandas_df)`` returns with Arrow on — is
    tokenized on the driver into a pandas frame (``id_col`` int64, ``term``
    str, no duplicates): ``collect()`` over a local relation starts no
    Spark job, and the rows go through the same ``_batch_postings`` kernel
    the ``mapInPandas`` stage runs. Serving hands this frame straight to
    ``wand.py::wand_topk``, so a local batch never goes back through the
    JVM before its plan is built. Nothing else is collected: any other input
    (parquet or JSON claim sets, tuple-built frames, a projection over a
    local relation, pandas frames in a session without Arrow) gets the
    distributed ``mapInPandas`` + ``distinct`` relation."""
    if claims.isLocal():
        rows = claims.collect()
        pdf = pd.DataFrame(
            {id_col: [r[id_col] for r in rows], text_col: [r[text_col] for r in rows]}
        )
        pairs = _batch_postings(pdf, id_col, text_col)[["doc_id", "term"]].drop_duplicates()
        return pairs.rename(columns={"doc_id": id_col}).reset_index(drop=True)
    return (
        tokenize_postings(claims, id_col=id_col, text_col=text_col)
        .select(F.col("doc_id").alias(id_col), "term")
        .distinct()
    )


def claim_terms(claims: DataFrame, id_col: str = "claim_id", text_col: str = "claim") -> DataFrame:
    """claims -> distinct (claim_id, term) relation: ``id_col`` long and
    ``term`` string, both non-null.

    :func:`claim_pairs` as a relation: a local batch's pandas pairs come
    back as a local relation (built from an Arrow table, so it is local
    whatever the session's Arrow setting); any other input keeps the
    distributed plan."""
    pairs = claim_pairs(claims, id_col, text_col)
    if not isinstance(pairs, pd.DataFrame):
        return pairs
    import pyarrow as pa

    schema = T.StructType([
        T.StructField(id_col, T.LongType(), False),
        T.StructField("term", T.StringType(), False),
    ])
    return claims.sparkSession.createDataFrame(
        pa.table({id_col: pa.array(pairs[id_col], pa.int64()),
                  "term": pa.array(pairs["term"], pa.string())}),
        schema,
    )


def idf_expr(n_docs: int):
    """Column expression: the BM25 idf term from df (shared by the scorers
    and :func:`explain_topk`'s breakdown rows)."""
    return F.log1p((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5))


def bm25_score_expr(n_docs: int, avgdl: float, p: BM25Params):
    """Column expression: per-posting BM25 contribution from (tf, dl, df)."""
    idf = idf_expr(n_docs)
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    denom = tf + F.lit(p.k1) * (F.lit(1.0 - p.b) + F.lit(p.b) * dl / F.lit(float(avgdl)))
    return idf * tf * F.lit(p.k1 + 1.0) / denom


def score_terms(postings: DataFrame, q: DataFrame, contrib, *aggs) -> DataFrame:
    """The scoring plan every postings scorer shares: broadcast the query
    side ``q`` — (claim_id, term, per-term stats) — onto the postings scan,
    evaluate ``contrib`` (a column expression over the joined row) per
    posting, and hash-aggregate on (claim_id, doc_id) into
    ``score = sum(contrib)`` plus any extra aggregate columns in ``aggs``
    (which may read the ``contrib`` column).

    Plan: the query side is tiny and broadcast, so the join prunes the
    postings scan to the queried terms and the contribution runs inside
    whole-stage codegen; the aggregate is partial+final. One wide scan, one
    narrow shuffle.
    """
    return (
        postings.join(F.broadcast(q), "term", "inner")
        .withColumn("contrib", contrib)
        .groupBy("claim_id", "doc_id")
        .agg(F.sum("contrib").alias("score"), *aggs)
    )


def topk(
    scored: DataFrame,
    k: int,
    dp: int | None,
    cols=("claim_id", "rank", "doc_id", "score"),
    key: str = "score",
    part="claim_id",
    tie: str = "doc_id",
) -> DataFrame:
    """Per-group top-k: ``rank`` = row_number over ``part`` (a column name
    or a list of them) ordered by ``key`` desc then ``tie`` asc; keep
    ``rank <= k`` and select ``cols``.

    ``dp`` has no default on purpose: with ``dp`` set the window ranks on
    ``round(key, dp)`` so mathematically tied rows order by ``tie`` instead
    of last-ulp summation noise (the rule every rounded-twin scorer pins);
    ``None`` ranks on the raw value. Each caller states which it uses.
    """
    rank_key = F.col(key) if dp is None else F.round(key, dp)
    w = Window.partitionBy(part).orderBy(rank_key.desc(), F.asc(tie))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(*cols)
    )


def score_all(
    postings: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    params: BM25Params = BM25Params(),
) -> DataFrame:
    """Every matching (claim_id, doc_id, score) pair — the un-truncated
    half of :func:`score_exhaustive`, exposed for consumers that aggregate
    over ALL matches instead of taking a top-k (block join's has_child
    aggregates child scores per parent; truncating first would change the
    parent score for score_mode in {sum, avg, min}).
    """
    q = qterms.join(stats, "term", "inner")  # (claim_id, term, df)
    return score_terms(postings, q, bm25_score_expr(n_docs, avgdl, params))


def score_exhaustive(
    postings: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 5,
    params: BM25Params = BM25Params(),
    rank_dp: int | None = None,
) -> DataFrame:
    """postings_long x (claim_id, term) -> top-k (claim_id, doc_id, score, rank).

    :func:`score_all` (one scan + one shuffle) followed by a window top-k.
    """
    # rank_dp: rank on round(score, rank_dp) so mathematically-tied docs
    # order by doc_id instead of engine summation noise (RM3's fb-doc
    # cutoff needs this; None preserves the raw contract everywhere else)
    return topk(score_all(postings, stats, qterms, n_docs, avgdl, params), k, rank_dp)


def score_dismax(
    postings: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 5,
    params: BM25Params = BM25Params(),
    tie_breaker: float = 0.3,
) -> DataFrame:
    """Disjunction-max BM25 top-k — the Lucene ``DisjunctionMaxQuery`` /
    ES ``dis_max`` scoring rule applied over per-term scorers:

        score(claim, doc) = max_t contrib_t
                            + tie_breaker * (sum_t contrib_t - max_t contrib_t)

    ``tie_breaker=0`` is pure best-clause (a doc matching one great term
    beats a doc matching several mediocre ones — the multi_match
    ``best_fields`` behavior); ``tie_breaker=1`` degenerates to the plain
    BM25 sum of :func:`score_exhaustive`. Returns
    (claim_id, rank, doc_id, score).

    Plan: :func:`score_terms` with the max as one extra aggregate column.
    """
    tb = float(tie_breaker)
    q = qterms.join(stats, "term", "inner")
    scored = score_terms(
        postings, q, bm25_score_expr(n_docs, avgdl, params), F.max("contrib").alias("_max")
    ).withColumn("score", F.col("_max") + F.lit(tb) * (F.col("score") - F.col("_max")))
    return topk(scored, k, None)


def score_conjunctive(
    postings: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 5,
    params: BM25Params = BM25Params(),
) -> DataFrame:
    """Conjunctive (match-ALL-terms) BM25 top-k: a doc qualifies for a claim
    only if it contains EVERY distinct query term; qualifying docs are
    BM25-ranked exactly like :func:`score_exhaustive`. A claim with any
    out-of-corpus term returns no rows (the AND over an empty postings list
    is empty).

    Plan: :func:`score_terms` with a match count; the intersection is the
    group-count filter ``n_matched == n_query_terms`` after the one hash
    aggregate — the Spark-first form of conjunctive evaluation (the classic
    rarest-term driver merge becomes a hash semi-intersection).
    """
    # n_q from the RAW query terms (before the stats join) so out-of-corpus
    # terms still count toward the required match total
    nq = qterms.groupBy("claim_id").agg(F.count(F.lit(1)).alias("n_q"))
    q = qterms.join(stats, "term", "inner")
    scored = (
        score_terms(
            postings, q, bm25_score_expr(n_docs, avgdl, params),
            F.count(F.lit(1)).alias("n_matched"),
        )
        .join(F.broadcast(nq), "claim_id", "inner")
        .filter(F.col("n_matched") == F.col("n_q"))
    )
    return topk(scored, k, None)


# -- boolean (must / should / must_not) retrieval ---------------------------
#
# The Lucene BooleanQuery analog (public semantics: MUST terms all required,
# MUST_NOT terms all excluded, SHOULD terms optional scorers with
# minimum_should_match=1 when no MUST clause is present). Score = sum of
# BM25 contributions of the matched must+should terms; must_not terms never
# contribute to the score.

#: clause precedence when one term appears in several clauses of the same
#: query: must_not wins over must wins over should (Lucene: prohibited
#: clauses veto, required clauses subsume optional ones).
_CLAUSE_PRI = {"must_not": 0, "must": 1, "should": 2}


def boolean_terms(
    queries: DataFrame,
    id_col: str = "claim_id",
    must_col: str = "must",
    should_col: str = "should",
    not_col: str = "must_not",
) -> DataFrame:
    """queries(claim_id, must, should, must_not — free-text clause columns)
    -> distinct (claim_id, term, pri) with clause-precedence dedup.

    Each clause column is tokenized with the engine tokenizer (so boolean
    queries see exactly the index's term space); NULL/empty clause columns
    yield no terms. ``pri`` is the integer precedence (0 must_not, 1 must,
    2 should) — downstream operators and the DuckDB oracle branch on the
    same integers.
    """
    parts = []
    for col, clause in ((not_col, "must_not"), (must_col, "must"), (should_col, "should")):
        if col in queries.columns:
            parts.append(
                claim_terms(
                    queries.select(F.col(id_col), F.coalesce(F.col(col), F.lit("")).alias("claim")),
                    id_col=id_col,
                ).withColumn("pri", F.lit(_CLAUSE_PRI[clause]))
            )
    if not parts:
        raise ValueError("queries has none of the clause columns")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy(id_col, "term").agg(F.min("pri").alias("pri"))


def score_boolean(
    postings: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 5,
    params: BM25Params = BM25Params(),
    min_should_match: int = 0,
) -> DataFrame:
    """Boolean BM25 top-k over (claim_id, term, pri) clause terms.

    A doc qualifies for a claim iff it matches ALL must terms (a must term
    absent from the corpus makes the claim unmatchable), NO must_not term,
    and — when the claim has no must terms — at least one should term.
    Qualifying docs are ranked by the BM25 sum of their matched must+should
    contributions (score desc, doc_id asc), exactly the
    :func:`score_exhaustive` ranking rule.

    ``min_should_match`` is the Lucene
    ``BooleanQuery.setMinimumNumberShouldMatch`` / ES
    ``minimum_should_match`` parameter: a doc must additionally match at
    least that many DISTINCT should terms. Semantics pinned to Lucene's
    rewrite rules: the constraint operates only on should clauses; a claim
    with fewer (in-corpus or not) should clauses than the requirement is
    unmatchable (Lucene rewrites to ``MatchNoDocsQuery``); with must
    clauses present and ``min_should_match=0`` the should clauses stay
    purely optional scorers (the default ES behavior).

    Plan: :func:`score_terms`; must_not postings ride the same scan but
    their contribution is zeroed in the codegen'd CASE, so exclusion costs
    one extra term's postings, not a second pass. The clause counts are
    extra aggregate columns, checked after a broadcast join against the
    per-claim must count.
    """
    # must count from the RAW clause terms (before the stats join) so an
    # out-of-corpus must term still makes the claim unmatchable
    nmust = qterms.groupBy("claim_id").agg(
        F.sum((F.col("pri") == 1).cast("int")).alias("n_must")
    )
    q = qterms.join(stats, "term", "inner")
    is_not = F.col("pri") == 0
    scored = (
        score_terms(
            postings, q,
            F.when(is_not, F.lit(0.0)).otherwise(bm25_score_expr(n_docs, avgdl, params)),
            F.sum((F.col("pri") == 1).cast("int")).alias("n_must_m"),
            F.sum((F.col("pri") == 0).cast("int")).alias("n_not_m"),
            F.sum((F.col("pri") == 2).cast("int")).alias("n_should_m"),
        )
        .join(F.broadcast(nmust), "claim_id", "inner")
        .filter(
            (F.col("n_not_m") == 0)
            & (F.col("n_must_m") == F.col("n_must"))
            & ((F.col("n_must") > 0) | (F.col("n_should_m") >= 1))
            & (F.col("n_should_m") >= F.lit(int(min_should_match)))
        )
    )
    return topk(scored, k, None)


def score_boosting(
    postings: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 5,
    params: BM25Params = BM25Params(),
    negative_boost: float = 0.5,
) -> DataFrame:
    """The ES ``boosting`` query: rank by the positive clause's BM25 score,
    demoted — not excluded — when the doc also matches the negative clause.

        score = bm25(positive terms) * (negative_boost if doc matches any
                                        negative term else 1)

    ``qterms`` is (claim_id, term, pri) with pri=1 positive, pri=0
    negative (the :func:`boolean_terms` encoding; should-pri 2 is treated
    as positive so the same clause builder serves both operators). A doc
    must match at least one positive term to appear at all — negative-only
    matches never enter the result (ES: the negative query is not a
    matching clause, only a demotion).

    Plan: :func:`score_terms` over both clauses; the demotion flag rides
    the aggregate as extra columns, so boosting costs the negative terms'
    postings and nothing else.
    """
    q = qterms.join(stats, "term", "inner")
    is_neg = F.col("pri") == 0
    scored = (
        score_terms(
            postings, q,
            F.when(is_neg, F.lit(0.0)).otherwise(bm25_score_expr(n_docs, avgdl, params)),
            F.sum((~is_neg).cast("int")).alias("n_pos_m"),
            F.sum(is_neg.cast("int")).alias("n_neg_m"),
        )
        .filter(F.col("n_pos_m") > 0)
        .withColumn(
            "score",
            F.col("score")
            * F.when(F.col("n_neg_m") > 0, F.lit(float(negative_boost))).otherwise(
                F.lit(1.0)
            ),
        )
    )
    return topk(scored, k, None)


def explain_topk(
    postings: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 5,
    params: BM25Params = BM25Params(),
    rank_dp: int | None = None,
) -> DataFrame:
    """The ES ``explain=true`` analog: the per-term BM25 score breakdown for
    every (claim, doc) in the exhaustive top-k. Returns one row per matched
    query term of each hit — (claim_id, rank, doc_id, term, tf, idf,
    contrib, score) with score = the hit's total (every breakdown row
    carries it, exactly like the ES response embeds the total in each
    explanation node) and sum(contrib) over a hit's rows == score.

    Plan: the scored-postings relation is built once, and the top-k cut and
    the breakdown both derive from it — a window keeps rows of the top-k
    (claim, doc) pairs only, so explain costs the same single scan as
    :func:`score_exhaustive` plus one window. No second corpus pass, no
    join back against the postings.
    """
    q = qterms.join(stats, "term", "inner")
    contribs = (
        postings.join(F.broadcast(q), "term", "inner")
        .withColumn("idf", idf_expr(n_docs))
        .withColumn("contrib", bm25_score_expr(n_docs, avgdl, params))
    )
    wdoc = Window.partitionBy("claim_id", "doc_id")
    # rank_dp: rank on round(score, rank_dp) so near-tied docs order by
    # doc_id instead of engine float-summation noise (same contract as
    # score_exhaustive's rank_dp). dense_rank over the per-doc-unique
    # (key, doc_id) pair == row_number over distinct docs, so every
    # breakdown row of a hit carries the hit's rank.
    rank_key = F.col("score") if rank_dp is None else F.round("score", rank_dp)
    wtop = Window.partitionBy("claim_id").orderBy(
        rank_key.desc(), F.asc("doc_id")
    )
    return (
        contribs.withColumn("score", F.sum("contrib").over(wdoc))
        .withColumn("rank", F.dense_rank().over(wtop).cast("int"))
        .filter(F.col("rank") <= k)
        .select("claim_id", "rank", "doc_id", "term", "tf", "idf", "contrib", "score")
    )


def match_docs(
    postings: DataFrame,
    qterms: DataFrame,
    require_all: bool = True,
) -> DataFrame:
    """The pre-top-k match relation (claim_id, doc_id): docs containing
    ALL (``require_all``) or ANY of a claim's terms. This is what facet
    counting and match-count estimation consume — the result-set shape
    BEFORE ranking cuts it. Same one-scan broadcast-join + single hash agg
    as the scorers, minus the scoring arithmetic."""
    if not require_all:
        return (
            postings.join(F.broadcast(qterms), "term", "inner")
            .select("claim_id", "doc_id")
            .distinct()
        )
    nq = qterms.groupBy("claim_id").agg(F.count(F.lit(1)).alias("n_q"))
    return (
        postings.join(F.broadcast(qterms), "term", "inner")
        .groupBy("claim_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .join(F.broadcast(nq), "claim_id", "inner")
        .filter(F.col("n_matched") == F.col("n_q"))
        .select("claim_id", "doc_id")
    )


def score_collapsed(
    postings: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    groups: DataFrame,
    k: int = 5,
    params: BM25Params = BM25Params(),
    group_col: str = "group",
) -> DataFrame:
    """Field-collapsed BM25 top-k (the Elasticsearch ``collapse`` /
    host-crowding rule): at most ONE document — the best — per group value
    (domain, source, site) per claim, then top-k ACROSS groups. Returns
    (claim_id, rank, doc_id, <group_col>, score).

    ``groups`` is a (doc_id, <group_col>) relation. Plan: :func:`score_all`,
    join doc->group (a dim lookup: broadcast when small, shuffle hash join
    on doc_id at web scale — both sides are already keyed by doc_id), then
    two windows: rank-1
    inside (claim, group), top-k over the survivors. The first window's
    partition count is |claims| x |groups| — strictly finer than the final
    top-k window, so collapse never concentrates skew.

    Ranking ties are broken on round(score, 6) then doc_id in BOTH windows:
    docs with identical term profiles tie mathematically, and raw-float
    summation-order noise must not decide which one represents its group
    (same rule as RM3's fb-doc cutoff; the DuckDB twin uses the identical
    key, which is what makes the collapse choice engine-portable).
    """
    scored = score_all(postings, stats, qterms, n_docs, avgdl, params).join(
        groups, "doc_id", "inner"
    )
    w_group = Window.partitionBy("claim_id", group_col).orderBy(
        F.round("score", 6).desc(), F.asc("doc_id")
    )
    best = scored.withColumn("grn", F.row_number().over(w_group)).filter(F.col("grn") == 1)
    return topk(best, k, 6, cols=("claim_id", "rank", "doc_id", group_col, "score"))


def score_boosted(
    postings: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    boosts: DataFrame,
    k: int = 5,
    params: BM25Params = BM25Params(),
    boost_col: str = "boost",
) -> DataFrame:
    """Static document-prior boosting (Lucene index-time doc boost; web
    search's query-independent signal — PageRank / quality priors folded
    into the text score): final = bm25 * boost, top-k per claim.

    ``boosts``: (doc_id, boost) — a deterministic per-doc prior. The harness
    uses the quality-model score (0.5 + quality, already 6-dp rounded); a
    web deployment joins its link-graph/quality table the same way.

    Plan: :func:`score_all`, then ONE doc-keyed join of the (claims x
    matched docs)-sized scored relation against the boost table — boosts
    are |corpus|-sized so they are NOT broadcast; the join
    shuffles the small scored side onto the boost table's hash partitioning.
    Ranking pins ties on (round(final, 6), doc_id) so the boost multiply —
    one IEEE op over 6-dp-rounded inputs in both engines — stays portable.
    """
    scored = (
        score_all(postings, stats, qterms, n_docs, avgdl, params)
        .withColumnRenamed("score", "bm25")
        .join(boosts.select("doc_id", boost_col), "doc_id", "inner")
        .withColumn("score", F.col("bm25") * F.col(boost_col))
    )
    return topk(scored, k, 6, cols=("claim_id", "rank", "doc_id", "bm25", "score"))


def score_rank_feature(
    postings: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    features: DataFrame,
    pivot: float,
    boost: float = 1.0,
    k: int = 5,
    params: BM25Params = BM25Params(),
    feature_col: str = "feature",
) -> DataFrame:
    """ES ``rank_feature`` query (saturation function) composed with a text
    clause, as in the canonical ``bool: {must: match, should: rank_feature}``:

        final = bm25 + boost * f / (f + pivot)

    The saturation pump is ADDITIVE (a should-clause), unlike
    :func:`score_boosted`'s multiplicative doc prior — a doc with a huge
    static feature can pad a weak text match by at most ``boost`` (the
    saturation asymptote), which is exactly why ES recommends rank_feature
    over multiplicative function_score for popularity/pagerank signals.
    Docs missing the feature row get zero contribution (left join), same as
    ES docs without the rank_feature field.

    Plan: identical to :func:`score_boosted` — :func:`score_all`, one
    doc-keyed join against the |corpus|-sized feature table (never
    broadcast). Ties rank on (round(final, 6), doc_id) since the
    saturation arithmetic is one IEEE divide over 6-dp inputs per row.
    """
    scored = (
        score_all(postings, stats, qterms, n_docs, avgdl, params)
        .withColumnRenamed("score", "bm25")
        .join(features.select("doc_id", feature_col), "doc_id", "left")
        .withColumn(
            "score",
            F.col("bm25")
            + F.lit(float(boost))
            * F.coalesce(
                F.col(feature_col) / (F.col(feature_col) + F.lit(float(pivot))),
                F.lit(0.0),
            ),
        )
    )
    return topk(scored, k, 6, cols=("claim_id", "rank", "doc_id", "bm25", "score"))


def score_page_after(
    postings: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    cursors: DataFrame,
    k: int = 5,
    params: BM25Params = BM25Params(),
) -> DataFrame:
    """search_after pagination (the Elasticsearch/Lucene deep-paging
    contract): given per-claim cursors — the (round(score,6), doc_id) of
    the LAST row of the previous page — return the next ``k`` results
    strictly after the cursor in (round(score,6) desc, doc_id asc) order,
    WITHOUT ranking everything above the cursor.

    ``cursors``: (claim_id, after_score, after_doc); after_score is the
    6-dp-rounded score (the page order key — raw floats differ across
    engines/plans, the rounded key is the portable cursor). The operator
    re-applies ``F.round(after_score, 6)`` itself, so a caller passing a
    raw float — or a Python ``round()`` value, which is banker's-rounded
    and can sit off the HALF_UP grid — cannot silently drop or duplicate
    boundary rows: the contract is enforced here, not just documented
    (ADVICE r3). Claims absent from ``cursors`` return nothing (no
    cursor, no page).

    Why this beats OFFSET at scale: the cursor predicate filters BEFORE
    the top-k window, so page N costs the same one scan + one narrow
    shuffle as page 1 — the window never materializes the N*k rows above
    the cursor (row_number()-then-filter would re-rank all of them on one
    reducer per claim).

    Correctness contract (tested): cursor-paging is EQUAL to the rank
    slice [k+1, 2k] of a double-size page-1 run with the same rank key.
    """
    cursors = cursors.withColumn("after_score", F.round("after_score", 6))
    scored = (
        score_all(postings, stats, qterms, n_docs, avgdl, params)
        .withColumn("_key", F.round("score", 6))
        .join(F.broadcast(cursors), "claim_id", "inner")
        .filter(
            (F.col("_key") < F.col("after_score"))
            | ((F.col("_key") == F.col("after_score")) & (F.col("doc_id") > F.col("after_doc")))
        )
    )
    return topk(scored, k, None, key="_key")


def percolate(
    postings: DataFrame,
    stored_queries: DataFrame,
    id_col: str = "query_id",
    text_col: str = "query",
) -> DataFrame:
    """Reverse search (the Elasticsearch percolator): match DOCUMENTS
    against STORED QUERIES — the alerting/routing primitive ("tell me when
    a crawled page matches my saved search"). A doc matches a stored query
    iff it contains EVERY distinct term of the query (the percolator's
    conjunctive term-query semantics; score-free).

    ``postings``: the (term, doc_id, ...) relation of the incoming docs —
    in a streaming deployment this is each micro-batch's postings inside
    ``foreachBatch``; the operator is stateless so it composes directly.
    ``stored_queries``: (query_id, query) free text — the rule table,
    broadcast (alert rules are query-sized, never corpus-sized).

    Output: (doc_id, query_id, n_terms) match pairs.

    Plan: the score_conjunctive shape without scoring — broadcast the rule
    terms onto one postings scan, one (doc, query) hash aggregate, keep
    groups matching ALL terms. Rules with zero valid terms match nothing.
    """
    qterms = (
        tokenize_postings(stored_queries, id_col=id_col, text_col=text_col)
        .select(F.col("doc_id").alias(id_col), "term")
        .distinct()
    )
    nq = qterms.groupBy(id_col).agg(F.count(F.lit(1)).alias("_nq"))
    matched = (
        postings.select("term", "doc_id")
        .join(F.broadcast(qterms), "term", "inner")
        .groupBy("doc_id", id_col)
        .agg(F.count(F.lit(1)).alias("_hit"))
        .join(F.broadcast(nq), id_col, "inner")
        .filter(F.col("_hit") == F.col("_nq"))
    )
    return matched.select(
        "doc_id", id_col, F.col("_nq").cast("long").alias("n_terms")
    )


def percolate_v2(
    postings: DataFrame,
    stored_queries: DataFrame,
    tokens: DataFrame | None = None,
    id_col: str = "query_id",
) -> DataFrame:
    """Percolator with the Elasticsearch BOOL-QUERY surface (VERDICT r3 #7):
    stored queries are sets of CLAUSES, each a conjunctive term set or an
    exact phrase, composed with must / should / must_not occurs.

    ``stored_queries``: (query_id, clause_id, occur, kind, text) — one row
    per clause; ``occur`` in {'must','should','must_not'}, ``kind`` in
    {'terms','phrase'}. Match semantics are ES bool-filter semantics:
    every must clause matches AND no must_not clause matches AND — the ES
    minimum_should_match default — at least one should clause matches when
    the query has NO must clauses (with must present, should is optional).
    A query whose clauses are all must_not would match the entire corpus;
    that is rejected loudly (alerting rules must select, not only exclude).

    ``tokens``: positional (doc_id, pos, term) from ``tokenize_tokens`` —
    required iff any phrase clause exists. A terms clause matches a doc iff
    the doc contains EVERY distinct term (percolate v1's semantics); a
    phrase clause iff the exact adjacent sequence occurs — the anchor trick
    (operators/phrase.py): occurrences of phrase term i at position p all
    share anchor p - i iff the phrase is contiguous, so one groupBy on
    (doc, clause, anchor) counting distinct i replaces any positional
    self-join.

    Output: (doc_id, query_id, n_must_matched, n_should_matched).

    Plan: rule relations are query-sized — every join against corpus-sized
    relations broadcasts the rule side onto ONE postings scan (terms
    clauses) and ONE term-pruned tokens scan (phrase clauses); the only
    corpus-keyed aggregates are (doc, clause[, anchor]) hash aggregates.
    Stateless like v1, so it drops into foreachBatch unchanged.
    """
    from defactonlp_spark.functions.tokenize import tokenize_tokens

    # clause uid: numeric (the tokenize kernels require int64 ids);
    # query-sized relation, 2^20 clauses per query is beyond any rule table
    rules = stored_queries.withColumn(
        "_uid", F.col(id_col).cast("long") * F.lit(1 << 20) + F.col("clause_id")
    )
    n_unselective = (
        rules.groupBy(id_col)
        .agg(F.sum(F.when(F.col("occur") != "must_not", 1).otherwise(0)).alias("_p"))
        .filter(F.col("_p") == 0)
        .count()
    )
    if n_unselective:
        raise ValueError(
            f"{n_unselective} stored queries have only must_not clauses — "
            "they would match the whole corpus; add a positive clause"
        )

    matches = []
    tcl = rules.filter(F.col("kind") == "terms")
    cterms = (
        tokenize_postings(tcl, id_col="_uid", text_col="text")
        .select(F.col("doc_id").alias("_uid"), "term")
        .distinct()
    )
    nct = cterms.groupBy("_uid").agg(F.count(F.lit(1)).alias("_n"))
    matches.append(
        postings.select("term", "doc_id")
        .join(F.broadcast(cterms), "term", "inner")
        .groupBy("doc_id", "_uid")
        .agg(F.count(F.lit(1)).alias("_hit"))
        .join(F.broadcast(nct), "_uid", "inner")
        .filter(F.col("_hit") == F.col("_n"))
        .select("doc_id", "_uid")
    )

    pcl = rules.filter(F.col("kind") == "phrase")
    if pcl.limit(1).count():
        if tokens is None:
            raise ValueError(
                "phrase clauses present but no positional tokens relation "
                "was given — pass tokenize_tokens(corpus)"
            )
        pterms = tokenize_tokens(pcl, id_col="_uid", text_col="text").select(
            F.col("doc_id").alias("_uid"), F.col("pos").alias("_i"), "term"
        )
        plen = pterms.groupBy("_uid").agg((F.max("_i") + 1).alias("_m"))
        matches.append(
            tokens.join(F.broadcast(pterms), "term", "inner")
            .withColumn("_anchor", F.col("pos") - F.col("_i"))
            .groupBy("doc_id", "_uid", "_anchor")
            .agg(F.count_distinct(F.col("_i")).alias("_c"))
            .join(F.broadcast(plen), "_uid", "inner")
            .filter(F.col("_c") == F.col("_m"))
            .select("doc_id", "_uid")
            .distinct()
        )

    cm = matches[0]
    for m in matches[1:]:
        cm = cm.unionByName(m)
    occ = F.col("occur")
    per = (
        cm.join(F.broadcast(rules.select("_uid", id_col, "occur")), "_uid", "inner")
        .groupBy("doc_id", id_col)
        .agg(
            F.sum(F.when(occ == "must", 1).otherwise(0)).cast("long").alias("_must_m"),
            F.sum(F.when(occ == "should", 1).otherwise(0)).cast("long").alias("_should_m"),
            F.sum(F.when(occ == "must_not", 1).otherwise(0)).cast("long").alias("_not_m"),
        )
    )
    qstats = rules.groupBy(id_col).agg(
        F.sum(F.when(occ == "must", 1).otherwise(0)).cast("long").alias("_must"),
        F.sum(F.when(occ == "should", 1).otherwise(0)).cast("long").alias("_should"),
    )
    return (
        per.join(F.broadcast(qstats), id_col, "inner")
        .filter(
            (F.col("_not_m") == 0)
            & (F.col("_must_m") == F.col("_must"))
            & ((F.col("_must") > 0) | (F.col("_should_m") >= 1))
        )
        .select(
            "doc_id", id_col,
            F.col("_must_m").alias("n_must_matched"),
            F.col("_should_m").alias("n_should_matched"),
        )
    )


def gauss_decay_expr(col, origin: float, offset: float, scale: float, decay: float = 0.5):
    """The Elasticsearch function_score ``gauss`` decay multiplier:

        sigma^2 = -scale^2 / (2 ln decay)
        m(x)    = exp( - max(0, |x - origin| - offset)^2 / (2 sigma^2) )

    m = 1 inside [origin-offset, origin+offset] and = ``decay`` exactly at
    distance ``offset + scale`` — the standard recency/length/geo prior
    shape. Pure codegen expression; compose with :func:`score_boosted`
    (round to 6 dp first, the boost-portability device) for
    function_score retrieval over any numeric doc field."""
    import math

    sigma2 = -(float(scale) ** 2) / (2.0 * math.log(float(decay)))
    dist = F.greatest(
        F.abs(col.cast("double") - F.lit(float(origin))) - F.lit(float(offset)),
        F.lit(0.0),
    )
    return F.exp(-(dist * dist) / F.lit(2.0 * sigma2))


def score_terms_set(
    postings: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    thresholds: DataFrame,
    k: int = 5,
    params: BM25Params = BM25Params(),
) -> DataFrame:
    """The ES ``terms_set`` query: a doc matches iff it contains at least
    its OWN required number of the query's terms — minimum_should_match
    with a PER-DOC threshold read from a doc field
    (``minimum_should_match_field``), the canonical "job posting lists how
    many of the required skills a candidate must have" query.

    ``thresholds``: (doc_id, required int). Docs absent from the relation
    never match (ES: a missing minimum_should_match_field value makes the
    doc unmatchable). ``required <= 0`` matches on any single term (the
    Lucene CoveringQuery lower bound: at least one scorer must match for
    the doc to surface at all). Matching docs score the standard BM25 sum
    over their matched terms — CoveringQuery sums its matched scorers.

    Plan: :func:`score_terms` with a match count, then ONE doc-keyed join
    against the |corpus|-sized thresholds relation — the same join as
    :func:`score_boosted`'s prior; never broadcast, the small scored side
    shuffles onto it.
    """
    q = qterms.join(stats, "term", "inner")
    scored = (
        score_terms(
            postings, q, bm25_score_expr(n_docs, avgdl, params),
            F.count(F.lit(1)).alias("n_matched"),
        )
        .join(thresholds.select("doc_id", "required"), "doc_id", "inner")
        .filter(F.col("n_matched") >= F.greatest(F.col("required"), F.lit(1)))
    )
    return topk(scored, k, 6)


def apply_pinned(
    organic: DataFrame,
    pins: DataFrame,
    k: int = 5,
) -> DataFrame:
    """The ES ``pinned`` query (searchable query rules): promote specific
    doc ids to the TOP of a claim's results in the given pin order,
    regardless of organic score, then fill with the organic ranking minus
    the pinned docs.

    ``organic``: any (claim_id, rank, doc_id, score) retrieval output;
    ``pins``: (claim_id, doc_id, pin_pos) — pinned docs appear even when
    the organic query did not match them (ES retrieves them by id); their
    reported score is the organic score when matched, else 0.0 (ES uses a
    sentinel max-score; 0.0 keeps the column comparable).

    Plan: pins are metadata-scale and broadcast both ways — one left join
    for scores, one anti join to dedupe the organic tail, one window.
    -> (claim_id, rank, doc_id, pinned, score)
    """
    pinned_rows = (
        # both relations are query-sized; the scores side (right of the left
        # join) is the broadcastable one — hinting the outer side is invalid
        pins
        .join(F.broadcast(organic.select("claim_id", "doc_id", "score")), ["claim_id", "doc_id"], "left")
        .select(
            "claim_id",
            "doc_id",
            F.lit(True).alias("pinned"),
            F.coalesce(F.col("score"), F.lit(0.0)).alias("score"),
            F.lit(0).alias("_tier"),
            F.col("pin_pos").cast("long").alias("_ord"),
        )
    )
    organic_rows = (
        organic.join(F.broadcast(pins.select("claim_id", "doc_id")), ["claim_id", "doc_id"], "left_anti")
        .select(
            "claim_id",
            "doc_id",
            F.lit(False).alias("pinned"),
            "score",
            F.lit(1).alias("_tier"),
            F.col("rank").cast("long").alias("_ord"),
        )
    )
    w = Window.partitionBy("claim_id").orderBy(F.asc("_tier"), F.asc("_ord"), F.asc("doc_id"))
    return (
        pinned_rows.unionByName(organic_rows)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("claim_id", "rank", "doc_id", "pinned", "score")
    )
