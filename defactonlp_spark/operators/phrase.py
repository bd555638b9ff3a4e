"""Exact phrase retrieval — positional matching + BM25 ranking.

A doc matches the phrase ``"t0 t1 ... tm"`` iff its token stream contains
the terms CONSECUTIVELY in order (the pinned tokenizer on both sides, so
"Spark SQL engine" matches "spark, sql: ENGINE" — punctuation and case
fold away identically).

The match is pure relational algebra — the ANCHOR trick, no UDF:

    qpos(claim_id, idx, term)          # phrase tokenized WITH its offsets
    tokens(doc_id, pos, term)          # positional explode of the corpus
    hits   = tokens ⋈_term broadcast(qpos)         # only queried terms scan
    anchor = pos - idx                              # candidate start offset
    match  = groupBy(claim, doc, anchor).count() == phrase_len

``pos = anchor + idx`` is a bijection inside one group, so a plain
``count(*)`` is exact even when the phrase repeats a term ("to be or not
to be"). One shuffle on (claim, doc, anchor); the tokens relation is
pruned to the phrases' terms by the broadcast join before it moves.

Ranking: matching docs are scored with the SAME BM25 sum over the
phrase's distinct terms and the stored corpus stats as every other query
path — a phrase query is "conjunctive + adjacency", so its scores are
comparable with the engine's other retrieval modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from defactonlp_spark.config import BM25Params
from defactonlp_spark.operators.bm25 import bm25_score_expr, topk


def phrase_positions(phrases: DataFrame, id_col: str = "claim_id", text_col: str = "phrase") -> DataFrame:
    """phrases(claim_id, phrase) -> (claim_id, idx, term): the pinned
    tokenizer with per-phrase token offsets."""
    from defactonlp_spark.functions.tokenize import tokenize_tokens

    return tokenize_tokens(phrases, id_col=id_col, text_col=text_col).select(
        F.col("doc_id").alias("claim_id"),
        F.col("pos").alias("idx"),
        "term",
    )


def phrase_matches(tokens: DataFrame, qpos: DataFrame) -> DataFrame:
    """(doc_id, pos, term) x (claim_id, idx, term) -> matching
    (claim_id, doc_id) pairs (distinct)."""
    plen = qpos.groupBy("claim_id").agg(F.count(F.lit(1)).alias("plen"))
    hits = tokens.join(F.broadcast(qpos), "term", "inner").select(
        "claim_id",
        "doc_id",
        (F.col("pos").cast("long") - F.col("idx")).alias("anchor"),
    )
    return (
        hits.groupBy("claim_id", "doc_id", "anchor")
        .agg(F.count(F.lit(1)).alias("m"))
        .join(F.broadcast(plen), "claim_id", "inner")
        .filter(F.col("m") == F.col("plen"))
        .select("claim_id", "doc_id")
        .distinct()
    )


def phrase_first_hits(tokens: DataFrame, qpos: DataFrame) -> DataFrame:
    """(claim_id, doc_id, anchor, plen): the FIRST occurrence position of
    each phrase in each matching doc — same anchor plan as
    :func:`phrase_matches`, keeping min(anchor) instead of dropping it."""
    plen = qpos.groupBy("claim_id").agg(F.count(F.lit(1)).alias("plen"))
    hits = tokens.join(F.broadcast(qpos), "term", "inner").select(
        "claim_id",
        "doc_id",
        (F.col("pos").cast("long") - F.col("idx")).alias("anchor"),
    )
    return (
        hits.groupBy("claim_id", "doc_id", "anchor")
        .agg(F.count(F.lit(1)).alias("m"))
        .join(F.broadcast(plen), "claim_id", "inner")
        .filter(F.col("m") == F.col("plen"))
        .groupBy("claim_id", "doc_id", "plen")
        .agg(F.min("anchor").alias("anchor"))
        .select("claim_id", "doc_id", "anchor", "plen")
    )


def phrase_snippets(
    tokens: DataFrame,
    phrases: DataFrame,
    window: int = 3,
    limit_docs: DataFrame | None = None,
) -> DataFrame:
    """KWIC snippets: for each (phrase, matching doc), the phrase's first
    occurrence with ``window`` tokens of context either side, rebuilt FROM
    THE POSITIONAL RELATION — no text column round-trip, no UDF:

        first_hits ⋈ tokens ON doc_id AND pos ∈ [anchor-w, anchor+plen-1+w]
        -> groupBy(claim, doc): sort by pos, join with spaces

    ``limit_docs`` (claim_id, doc_id — e.g. :func:`score_phrase`'s top-k)
    restricts snippets to those hits and makes the first-hits side
    broadcast-small; without it a Zipf-common phrase over a web corpus
    produces |matches| snippets and the join is left to the planner.
    Returns (claim_id, doc_id, anchor, snippet)."""
    fh = phrase_first_hits(tokens, phrase_positions(phrases))
    if limit_docs is not None:
        fh = fh.join(
            limit_docs.select("claim_id", "doc_id"), ["claim_id", "doc_id"], "left_semi"
        )
    # fh derives from tokens — rename its join keys so the theta self-join
    # is unambiguous
    fh = fh.select(
        "claim_id", F.col("doc_id").alias("m_doc"), "anchor", "plen"
    )
    if limit_docs is not None:
        fh = F.broadcast(fh)
    span = tokens.join(
        fh,
        (F.col("doc_id") == F.col("m_doc"))
        & (F.col("pos") >= F.col("anchor") - window)
        & (F.col("pos") <= F.col("anchor") + F.col("plen") - 1 + window),
        "inner",
    ).select("claim_id", F.col("m_doc").alias("doc_id"), "anchor", "pos", "term")
    return (
        span.groupBy("claim_id", "doc_id", "anchor")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "term"))),
                    lambda x: x["term"],
                ),
                " ",
            ).alias("snippet")
        )
        .select("claim_id", "doc_id", "anchor", "snippet")
    )


def proximity_matches(tokens: DataFrame, qterms: DataFrame, window: int) -> DataFrame:
    """(doc_id, pos, term) x DISTINCT (claim_id, term) -> (claim_id, doc_id)
    pairs where ALL the claim's terms co-occur within ``window`` consecutive
    token positions, in any order.

    The phrase anchor trick generalized to a RANGE self-join: a valid
    window exists iff one starts at some query-term occurrence, so anchor
    every occurrence and count distinct terms in [pos, pos+window-1].
    Fan-out per anchor is bounded by the window length, so the join output
    is <= |hits| * window — never quadratic in document length."""
    m = qterms.groupBy("claim_id").agg(F.count(F.lit(1)).alias("m_terms"))
    occ = tokens.join(F.broadcast(qterms), "term", "inner").select(
        "claim_id", "doc_id", "pos", "term"
    )
    a = occ.select("claim_id", "doc_id", F.col("pos").alias("apos"))
    b = occ.select(
        F.col("claim_id").alias("b_claim"), F.col("doc_id").alias("b_doc"),
        F.col("pos").alias("bpos"), F.col("term").alias("b_term"),
    )
    return (
        a.join(
            b,
            (F.col("claim_id") == F.col("b_claim"))
            & (F.col("doc_id") == F.col("b_doc"))
            & (F.col("bpos") >= F.col("apos"))
            & (F.col("bpos") <= F.col("apos") + window - 1),
            "inner",
        )
        .groupBy("claim_id", "doc_id", "apos")
        .agg(F.countDistinct("b_term").alias("c"))
        .join(F.broadcast(m), "claim_id", "inner")
        .filter(F.col("c") == F.col("m_terms"))
        .select("claim_id", "doc_id")
        .distinct()
    )


def _score_matched(
    postings: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    matches: DataFrame,
    n_docs: int,
    avgdl: float,
    params: BM25Params,
) -> DataFrame:
    """BM25 sum over a claim's distinct terms, restricted to the (claim_id,
    doc_id) pairs in ``matches`` (stored df/N/avgdl — scores comparable with
    every other query path). The match semi-join sits between the
    contribution and the aggregate, so this is not ``bm25.score_terms``."""
    q = qterms.join(stats, "term", "inner")
    return (
        postings.join(F.broadcast(q), "term", "inner")
        .withColumn("contrib", bm25_score_expr(n_docs, avgdl, params))
        .join(matches, ["claim_id", "doc_id"], "left_semi")
        .groupBy("claim_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )


def score_proximity(
    postings: DataFrame,
    stats: DataFrame,
    tokens: DataFrame,
    claims: DataFrame,
    n_docs: int,
    avgdl: float,
    window: int,
    k: int = 5,
    params: BM25Params = BM25Params(),
) -> DataFrame:
    """Top-k proximity retrieval: docs where all of a claim's terms fall
    inside one ``window``-token span (any order), BM25-ranked over those
    terms with stored stats — the unordered sibling of :func:`score_phrase`
    (window == phrase length and ordered adjacency make phrase the tighter
    constraint). ``claims``: (claim_id, claim) free text."""
    from defactonlp_spark.operators.bm25 import claim_terms

    qterms = claim_terms(claims)
    matches = proximity_matches(tokens, qterms, window)
    scored = _score_matched(postings, stats, qterms, matches, n_docs, avgdl, params)
    return topk(scored, k, None)


def score_phrase(
    postings: DataFrame,
    stats: DataFrame,
    tokens: DataFrame,
    phrases: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 5,
    params: BM25Params = BM25Params(),
) -> DataFrame:
    """Top-k phrase retrieval: adjacency via :func:`phrase_matches`, then
    the standard BM25 sum over the phrase's DISTINCT terms restricted to
    matching docs (stored df/N/avgdl — scores comparable with the other
    query paths). Phrases with no occurrence (or any out-of-corpus term)
    return no rows."""
    qpos = phrase_positions(phrases)
    matches = phrase_matches(tokens, qpos)
    qterms = qpos.select("claim_id", "term").distinct()
    scored = _score_matched(postings, stats, qterms, matches, n_docs, avgdl, params)
    return topk(scored, k, None)


def span_near_matches(tokens: DataFrame, qpos: DataFrame, slop: int) -> DataFrame:
    """Ordered span-near matching (Lucene SpanNearQuery ``in_order=true``):
    a doc matches phrase terms t0..t(m-1) iff there exist token positions
    p0 < p1 < ... < p(m-1) with term(p_i) = t_i and span width
    p(m-1) - p0 + 1 <= m + slop. slop=0 degenerates to exact phrase
    adjacency; the unordered sibling is :func:`proximity_matches`.

    Relational shape — the anchor trick iterated as a GREEDY frontier:
    anchors are occurrences of t0; at step i the frontier (claim, doc,
    anchor, cur) extends by the EARLIEST occurrence of t_i in
    (cur, anchor + i + slop]. Greedy-earliest is exact by the standard
    exchange argument: any valid increasing assignment can be rewritten
    to use the earliest valid choice at each step without shrinking the
    remaining feasible window. Each step is a range join whose fan-out is
    bounded by slop+1 per anchor, aggregated back to one row per anchor —
    the frontier never exceeds |occurrences of t0| and plan depth is the
    phrase length (bounded, ~8), so nothing is quadratic in doc length.
    Frontier levels persist (tracked for release_cached) so the per-level
    completion union does not recompute the prefix chain.

    -> matching (claim_id, doc_id) pairs, distinct. Phrases of length 1
    match wherever t0 occurs.
    """
    from defactonlp_spark.operators.dedup import _track_persist

    plen = qpos.groupBy("claim_id").agg(F.count(F.lit(1)).alias("plen"))
    lens = {r["claim_id"]: r["plen"] for r in plen.collect()}  # query-sized
    if not lens:
        return qpos.sparkSession.createDataFrame([], "claim_id long, doc_id long")
    max_m = max(lens.values())

    occ = _track_persist(
        tokens.join(F.broadcast(qpos), "term", "inner").select(
            "claim_id", "doc_id", "idx", "pos"
        )
    )
    frontier = occ.filter(F.col("idx") == 0).select(
        "claim_id", "doc_id",
        F.col("pos").cast("long").alias("anchor"),
        F.col("pos").cast("long").alias("cur"),
    )
    done = []
    for i in range(1, max_m + 1):
        complete_ids = [c for c, m in lens.items() if m == i]
        if complete_ids:
            done.append(
                frontier.filter(F.col("claim_id").isin(complete_ids))
                .select("claim_id", "doc_id")
            )
        if i == max_m:
            break
        nxt = occ.filter(F.col("idx") == i).select(
            F.col("claim_id").alias("n_claim"), F.col("doc_id").alias("n_doc"),
            F.col("pos").cast("long").alias("npos"),
        )
        frontier = _track_persist(
            frontier.join(
                nxt,
                (F.col("claim_id") == F.col("n_claim"))
                & (F.col("doc_id") == F.col("n_doc"))
                & (F.col("npos") > F.col("cur"))
                & (F.col("npos") <= F.col("anchor") + i + slop),
                "inner",
            )
            .groupBy("claim_id", "doc_id", "anchor")
            .agg(F.min("npos").alias("cur"))
        )
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out.distinct()


def score_span_near(
    postings: DataFrame,
    stats: DataFrame,
    tokens: DataFrame,
    phrases: DataFrame,
    n_docs: int,
    avgdl: float,
    slop: int,
    k: int = 5,
    params: BM25Params = BM25Params(),
) -> DataFrame:
    """Top-k ordered span-near retrieval: matching via
    :func:`span_near_matches`, then the standard BM25 sum over the
    phrase's DISTINCT terms restricted to matching docs (stored stats —
    scores comparable with every other query path, exactly like
    :func:`score_phrase`). ``phrases``: (claim_id, phrase) free text."""
    qpos = phrase_positions(phrases)
    matches = span_near_matches(tokens, qpos, slop)
    qterms = qpos.select("claim_id", "term").distinct()
    scored = _score_matched(postings, stats, qterms, matches, n_docs, avgdl, params)
    return topk(scored, k, None)


def best_passage(
    tokens: DataFrame,
    qterms: DataFrame,
    scope: DataFrame,
    window: int = 20,
) -> DataFrame:
    """Best-passage selection (the Lucene Highlighter / passage-retrieval
    shape): for each (claim_id, doc_id) in ``scope`` — typically the BM25
    top-k — the ``window``-token span covering the MOST DISTINCT query
    terms; ties prefer more total hits, then the earliest start.

    Output: (claim_id, doc_id, start_pos, n_terms, n_hits), rank-1 row per
    scoped pair that has at least one hit.

    The proximity anchor trick re-used for scoring instead of filtering:
    the optimal window can be anchored at some query-term occurrence, so
    candidate starts = hit positions, and the range self-join fan-out is
    bounded by |hits| * window — never quadratic in document length. The
    scope semi-join keeps the token scan to the claims' candidate docs
    (query-sized x k rows, broadcast).
    """
    occ = (
        tokens.join(F.broadcast(qterms), "term", "inner")
        .join(F.broadcast(scope.select("claim_id", "doc_id")), ["claim_id", "doc_id"], "left_semi")
        .select("claim_id", "doc_id", "pos", "term")
    )
    a = occ.select("claim_id", "doc_id", F.col("pos").alias("start_pos"))
    b = occ.select(
        F.col("claim_id").alias("b_claim"), F.col("doc_id").alias("b_doc"),
        F.col("pos").alias("bpos"), F.col("term").alias("b_term"),
    )
    wins = (
        a.join(
            b,
            (F.col("claim_id") == F.col("b_claim"))
            & (F.col("doc_id") == F.col("b_doc"))
            & (F.col("bpos") >= F.col("start_pos"))
            & (F.col("bpos") <= F.col("start_pos") + window - 1),
            "inner",
        )
        .groupBy("claim_id", "doc_id", "start_pos")
        .agg(
            F.countDistinct("b_term").alias("n_terms"),
            F.count(F.lit(1)).cast("long").alias("n_hits"),
        )
    )
    w = Window.partitionBy("claim_id", "doc_id").orderBy(
        F.desc("n_terms"), F.desc("n_hits"), F.asc("start_pos")
    )
    return (
        wins.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("claim_id", "doc_id", "start_pos", "n_terms", "n_hits")
    )


def prefix_expanded_positions(
    stats: DataFrame,
    phrases: DataFrame,
    max_expansions: int = 16,
) -> DataFrame:
    """match_phrase_prefix expansion: tokenize each phrase WITH offsets and
    expand the LAST token as a PREFIX against the term dictionary — never
    the postings — to at most ``max_expansions`` terms, highest-df first
    (ties term asc; the same deterministic top-terms rewrite cut as
    expansion.py::expand_wildcards). Earlier tokens pass through literal.

    -> qpos rows (claim_id, idx, term) where the last idx carries one row
    per surviving expansion; feeding this to :func:`phrase_matches` makes
    the anchor count exact (a doc position holds ONE token, so it matches
    at most one expansion row — the per-anchor bijection survives).

    A phrase whose prefix matches nothing in the dictionary contributes no
    last-idx rows, so the anchor count can never reach plen — unmatchable,
    exactly Lucene's rewrite of an empty MultiTermQuery expansion.

    Scale shape: phrases (a handful) broadcast onto the Heaps-bounded
    dictionary; a prefix is a range predicate a sorted 10^12-doc term
    dictionary serves by range pruning (term >= p AND term < p || 'z'+1) —
    LIKE keeps it declarative here and DuckDB-portable.
    """
    qpos = phrase_positions(phrases)
    plen = qpos.groupBy("claim_id").agg(F.max("idx").alias("last_idx"))
    qpos = qpos.join(F.broadcast(plen), "claim_id")
    fixed = qpos.filter(F.col("idx") < F.col("last_idx")).select(
        "claim_id", "idx", "term"
    )
    last = qpos.filter(F.col("idx") == F.col("last_idx")).select(
        "claim_id", "idx", F.col("term").alias("prefix")
    )
    cand = stats.select("term", "df").join(
        F.broadcast(last), F.expr("term LIKE prefix || '%'"), "inner"
    )
    expanded = topk(
        cand, max_expansions, None, cols=("claim_id", "idx", "term"), key="df", tie="term"
    )
    return fixed.unionByName(expanded)


def score_phrase_prefix(
    postings: DataFrame,
    stats: DataFrame,
    tokens: DataFrame,
    phrases: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 5,
    max_expansions: int = 16,
    params: BM25Params = BM25Params(),
) -> DataFrame:
    """The ES ``match_phrase_prefix`` query: the phrase's last token is a
    PREFIX, expanded against the dictionary (:func:`prefix_expanded_
    positions`), and a doc matches iff the fixed terms appear consecutively
    followed by ANY expansion at the final slot — the multi-phrase anchor
    count over the expanded qpos relation, same single
    (claim, doc, anchor) shuffle as :func:`phrase_matches`.

    Ranking pins the house rewrite rule: matching docs score the standard
    BM25 sum over the DISTINCT expanded term set (fixed terms + all
    expansions the doc contains) with stored stats — the ScoringBoolean
    disjunction-over-expansions semantics expand_wildcards documents,
    gated by the positional match. Ranking (round(score,6) desc, doc_id
    asc) like the other multi-term rewrites.
    """
    qpos = prefix_expanded_positions(stats, phrases, max_expansions)
    # anchor count vs the TRUE phrase length from the ORIGINAL phrase —
    # NOT the expanded relation's row count (many rows share the last idx,
    # of which a doc position can match exactly one) and NOT its max(idx)
    # (an empty expansion drops the last-idx rows entirely; deriving plen
    # from the expanded relation would silently demote the query to its
    # fixed prefix instead of the MatchNoDocs rewrite).
    plen = (
        phrase_positions(phrases)
        .groupBy("claim_id")
        .agg((F.max("idx") + 1).alias("plen"))
    )
    hits = tokens.join(F.broadcast(qpos), "term", "inner").select(
        "claim_id",
        "doc_id",
        (F.col("pos").cast("long") - F.col("idx")).alias("anchor"),
    )
    matches = (
        hits.groupBy("claim_id", "doc_id", "anchor")
        .agg(F.count(F.lit(1)).alias("m"))
        .join(F.broadcast(plen), "claim_id", "inner")
        .filter(F.col("m") == F.col("plen"))
        .select("claim_id", "doc_id")
        .distinct()
    )
    qterms = qpos.select("claim_id", "term").distinct()
    scored = _score_matched(postings, stats, qterms, matches, n_docs, avgdl, params)
    return topk(scored, k, 6)


def top_fragments(
    tokens: DataFrame,
    qterms: DataFrame,
    scope: DataFrame,
    window: int = 20,
    n_fragments: int = 2,
) -> DataFrame:
    """Multi-fragment highlighting (the ES unified highlighter's
    ``number_of_fragments``): for each scoped (claim, doc), the
    ``n_fragments`` best NON-OVERLAPPING ``window``-token passages, ranked
    like :func:`best_passage` (distinct query terms desc, total hits desc,
    earliest start) — greedy selection, the same rule Lucene's passage
    formatter applies to its scored passage queue.

    Output: (claim_id, doc_id, frag, start_pos, n_terms, n_hits), frag =
    1..n_fragments; a pair emits fewer rows when no non-overlapping window
    remains. Greedy = pick best, drop every candidate window overlapping
    it, repeat — ``n_fragments`` bounded window+filter rounds over the
    anchor-candidate relation (persisted once; |hits| x window fan-out,
    never quadratic in doc length), exactly the span-near frontier
    discipline. Plan depth is n_fragments (small by contract).
    """
    from defactonlp_spark.operators.dedup import _track_persist

    occ = (
        tokens.join(F.broadcast(qterms), "term", "inner")
        .join(F.broadcast(scope.select("claim_id", "doc_id")), ["claim_id", "doc_id"], "left_semi")
        .select("claim_id", "doc_id", "pos", "term")
    )
    a = occ.select("claim_id", "doc_id", F.col("pos").alias("start_pos"))
    b = occ.select(
        F.col("claim_id").alias("b_claim"), F.col("doc_id").alias("b_doc"),
        F.col("pos").alias("bpos"), F.col("term").alias("b_term"),
    )
    remaining = _track_persist(
        a.join(
            b,
            (F.col("claim_id") == F.col("b_claim"))
            & (F.col("doc_id") == F.col("b_doc"))
            & (F.col("bpos") >= F.col("start_pos"))
            & (F.col("bpos") <= F.col("start_pos") + window - 1),
            "inner",
        )
        .groupBy("claim_id", "doc_id", "start_pos")
        .agg(
            F.countDistinct("b_term").alias("n_terms"),
            F.count(F.lit(1)).cast("long").alias("n_hits"),
        )
    )
    w = Window.partitionBy("claim_id", "doc_id").orderBy(
        F.desc("n_terms"), F.desc("n_hits"), F.asc("start_pos")
    )
    chosen = []
    for i in range(1, n_fragments + 1):
        best = _track_persist(
            remaining.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(
                "claim_id", "doc_id",
                F.lit(i).cast("int").alias("frag"),
                "start_pos", "n_terms", "n_hits",
            )
        )
        chosen.append(best)
        if i == n_fragments:
            break
        # drop candidates overlapping the pick: |start - best_start| < window
        picked = best.select(
            "claim_id", "doc_id", F.col("start_pos").alias("_picked")
        )
        remaining = (
            remaining.join(picked, ["claim_id", "doc_id"], "inner")
            .filter(F.abs(F.col("start_pos") - F.col("_picked")) >= window)
            .drop("_picked")
        )
    out = chosen[0]
    for c in chosen[1:]:
        out = out.unionByName(c)
    return out


def span_first_matches(tokens: DataFrame, qpos: DataFrame, end: int) -> DataFrame:
    """Lucene/ES ``span_first``: the phrase must occur ENTIRELY within the
    first ``end`` token positions of the document (match.end() <= end, the
    SpanFirstQuery contract) — "title-ish" matching on a flat body field.

    Same anchor trick as :func:`phrase_matches` with one extra predicate:
    a full match at anchor a covers positions [a, a+plen-1], so the span
    constraint is ``a + plen <= end``. The position filter applies to the
    TOKENS side before the group-by (pos < end is necessary for any
    in-window hit), so the shuffle only carries the document heads.
    """
    plen = qpos.groupBy("claim_id").agg(F.count(F.lit(1)).alias("plen"))
    hits = (
        tokens.filter(F.col("pos") < end)
        .join(F.broadcast(qpos), "term", "inner")
        .select(
            "claim_id",
            "doc_id",
            (F.col("pos").cast("long") - F.col("idx")).alias("anchor"),
        )
    )
    return (
        hits.groupBy("claim_id", "doc_id", "anchor")
        .agg(F.count(F.lit(1)).alias("m"))
        .join(F.broadcast(plen), "claim_id", "inner")
        .filter(
            (F.col("m") == F.col("plen"))
            & (F.col("anchor") >= 0)
            & (F.col("anchor") + F.col("plen") <= end)
        )
        .select("claim_id", "doc_id")
        .distinct()
    )


def score_span_first(
    postings: DataFrame,
    stats: DataFrame,
    tokens: DataFrame,
    phrases: DataFrame,
    n_docs: int,
    avgdl: float,
    end: int,
    k: int = 5,
    params: BM25Params = BM25Params(),
) -> DataFrame:
    """Top-k span_first retrieval: :func:`span_first_matches` gates the
    candidates, then the standard BM25 sum over the phrase's distinct
    terms — same envelope as :func:`score_phrase`, so span_first results
    are directly comparable with the exact-phrase path (a span_first hit
    set is always a subset of the phrase hit set)."""
    qpos = phrase_positions(phrases)
    matches = span_first_matches(tokens, qpos, end)
    qterms = qpos.select("claim_id", "term").distinct()
    scored = _score_matched(postings, stats, qterms, matches, n_docs, avgdl, params)
    return topk(scored, k, None)
