"""RM3 pseudo-relevance-feedback query expansion (public refs: Lavrenko &
Croft 2001 relevance models; Abdul-Jaleel et al. 2004 UMass RM3; the
Anserini/Pyserini default expansion). Pure DataFrame algebra end to end.

Pinned semantics (the DuckDB oracle and the pytest scalar oracle implement
the same spec):

1. First pass: BM25 top ``fb_docs`` per claim (score desc, doc_id asc).
2. Doc weight  p(D) = score(D) / sum of the claim's fb scores.
3. Relevance model  rm(w) = sum over fb docs of (tf(w,D)/|D|) * p(D),
   ROUNDED to 9 dp (pins cross-engine float-sum order differences).
4. Keep the top ``fb_terms`` terms per claim (rm desc, term asc), then
   renormalize the kept weights to sum 1, rounding to 9 dp again.
5. Interpolate with the uniform original query model (1/|q| per distinct
   query term): weight(w) = alpha * orig(w) + (1-alpha) * rm(w), 9 dp.
6. Second pass: weighted BM25 — score(D) = sum_w weight(w) * bm25_w(D),
   ranked score desc, doc_id asc, top k.

Scale shape: two scored passes over term-pruned postings plus ONE doc-keyed
join against the postings relation to read the fb docs' vectors (claims x
fb_docs rows broadcast onto it). No driver materialization beyond the term
list that prunes the scan (same contract as every other query path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from defactonlp_spark.config import BM25Params
from defactonlp_spark.operators.bm25 import (
    bm25_score_expr,
    score_exhaustive,
    score_terms,
    topk,
)


def rm3_weights(
    first: DataFrame,
    doc_postings: DataFrame,
    qterms: DataFrame,
    fb_terms: int = 10,
    alpha: float = 0.5,
) -> DataFrame:
    """(first-pass top docs, postings relation, original query terms) ->
    interpolated (claim_id, term, weight).

    ``first``: (claim_id, doc_id, score) — the fb docs (already top-fb_docs).
    ``doc_postings``: any (term, doc_id, tf, dl) relation covering those
    docs (the full build postings table; the join prunes it by doc_id).
    """
    ssum = first.groupBy("claim_id").agg(F.sum("score").alias("ssum"))
    fb = (
        first.join(ssum, "claim_id")
        .select("claim_id", "doc_id", (F.col("score") / F.col("ssum")).alias("p_d"))
    )
    rm = (
        doc_postings.join(F.broadcast(fb), "doc_id")
        .groupBy("claim_id", "term")
        .agg(
            F.round(
                F.sum(F.col("tf").cast("double") / F.col("dl") * F.col("p_d")), 9
            ).alias("rm_w")
        )
    )
    kept = topk(rm, fb_terms, None, cols=("claim_id", "term", "rm_w"), key="rm_w", tie="term")
    knorm = kept.groupBy("claim_id").agg(F.sum("rm_w").alias("ksum"))
    rm_p = kept.join(knorm, "claim_id").select(
        "claim_id", "term", F.round(F.col("rm_w") / F.col("ksum"), 9).alias("rm_p")
    )
    nq = qterms.groupBy("claim_id").agg(F.count(F.lit(1)).alias("n_q"))
    orig = qterms.join(nq, "claim_id").select(
        "claim_id", "term", (F.lit(1.0) / F.col("n_q")).alias("orig_p")
    )
    return (
        orig.join(rm_p, ["claim_id", "term"], "full_outer")
        .select(
            "claim_id",
            "term",
            F.round(
                F.lit(alpha) * F.coalesce(F.col("orig_p"), F.lit(0.0))
                + F.lit(1.0 - alpha) * F.coalesce(F.col("rm_p"), F.lit(0.0)),
                9,
            ).alias("weight"),
        )
    )


def score_weighted(
    postings: DataFrame,
    stats: DataFrame,
    wterms: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 5,
    params: BM25Params = BM25Params(),
    rank_dp: int | None = None,
) -> DataFrame:
    """Weighted-query BM25 top-k: score = sum_w weight * bm25_w — the
    BM25 contribution with one extra multiply, over ``score_terms``.

    ``rank_dp``: rank on round(score, rank_dp) instead of the raw float.
    Weighted sums produce EXACT mathematical ties between docs with equal
    term profiles, and different engines/plans break those ties by
    last-ulp summation-order noise — rounding before the window pins the
    tie and lets doc_id break it deterministically (the same device as
    the _bm25_sql oracle's rank-on-round option)."""
    q = wterms.join(stats, "term", "inner")
    contrib = F.col("weight") * bm25_score_expr(n_docs, avgdl, params)
    return topk(score_terms(postings, q, contrib), k, rank_dp)


def rm3_expand(
    postings: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    fb_docs: int = 10,
    fb_terms: int = 10,
    alpha: float = 0.5,
    params: BM25Params = BM25Params(),
    rank_dp: int | None = None,
) -> DataFrame:
    """Ad-hoc (single postings relation) RM3: first pass + relevance model
    + interpolation -> (claim_id, term, weight). ``rank_dp`` pins the
    fb-doc cutoff ordering (see score_weighted)."""
    first = score_exhaustive(
        postings, stats, qterms, n_docs, avgdl, k=fb_docs, params=params,
        rank_dp=rank_dp,
    ).select("claim_id", "doc_id", "score")
    return rm3_weights(first, postings, qterms, fb_terms=fb_terms, alpha=alpha)


def rm3_topk(
    postings: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 5,
    fb_docs: int = 10,
    fb_terms: int = 10,
    alpha: float = 0.5,
    params: BM25Params = BM25Params(),
    rank_dp: int | None = None,
) -> DataFrame:
    """Full ad-hoc RM3 retrieval: expand, then weighted second pass."""
    wterms = rm3_expand(
        postings, stats, qterms, n_docs, avgdl,
        fb_docs=fb_docs, fb_terms=fb_terms, alpha=alpha, params=params,
        rank_dp=rank_dp,
    )
    return score_weighted(
        postings, stats, wterms, n_docs, avgdl, k=k, params=params, rank_dp=rank_dp
    )


def expand_synonyms(
    qterms: DataFrame,
    synonyms: DataFrame,
    syn_weight: float = 0.5,
) -> DataFrame:
    """Query-time synonym expansion (the Lucene SynonymQuery analog with a
    discounted variant weight): original query terms keep weight 1.0; for
    each (term, variant) row of ``synonyms`` whose term appears in a query,
    the variant joins that query with weight ``syn_weight``. A variant that
    is ALSO an original term of the same query keeps 1.0 (max wins).

    -> (claim_id, term, weight), ready for :func:`score_weighted`.
    The synonyms relation is broadcast — dictionaries are vocabulary-sized.
    """
    orig = qterms.select("claim_id", "term", F.lit(1.0).alias("weight"))
    vars_ = (
        qterms.join(F.broadcast(synonyms), "term")
        .select("claim_id", F.col("variant").alias("term"),
                F.lit(float(syn_weight)).alias("weight"))
    )
    return (
        orig.unionByName(vars_)
        .groupBy("claim_id", "term")
        .agg(F.max("weight").alias("weight"))
    )


def expand_fuzzy(
    stats: DataFrame,
    qterms: DataFrame,
    max_dist: int = 1,
    max_expansions: int = 3,
) -> DataFrame:
    """Fuzzy-query expansion (the Lucene FuzzyQuery analog): every query
    term expands to the dictionary terms within Levenshtein distance
    ``max_dist``, keeping the ``max_expansions`` best variants per query
    term ranked (dist asc, df desc, term asc) — so an exact dictionary hit
    (dist 0) always survives and leads. Variant weight is
    round(1/(1+dist), 6): 1.0 exact, 0.5 one edit, 0.333333 two. A term
    reachable from several of a claim's query terms keeps its best weight
    (max wins, the expand_synonyms convention).

    -> (claim_id, term, weight) for :func:`score_weighted` (use rank_dp:
    discounted weights produce exact mathematical ties).

    Relational shape (same as suggest_corrections): query terms broadcast
    onto the Heaps-bounded dictionary with the |length diff| <= max_dist
    band predicate evaluated before the levenshtein expression; never a
    corpus-sized join. OOV typos cost the same scan as valid terms — the
    dictionary is the only relation touched.
    """
    cand = (
        stats.select(F.col("term").alias("variant"), "df")
        .join(
            F.broadcast(qterms),
            F.abs(F.length("variant") - F.length("term")) <= max_dist,
            "inner",
        )
        .withColumn("dist", F.levenshtein("term", "variant"))
        .filter(F.col("dist") <= max_dist)
    )
    w = Window.partitionBy("claim_id", "term").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("variant")
    )
    kept = (
        cand.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_expansions)
        .select(
            "claim_id",
            F.col("variant").alias("term"),
            F.round(F.lit(1.0) / (F.lit(1.0) + F.col("dist")), 6).alias("weight"),
        )
    )
    return kept.groupBy("claim_id", "term").agg(F.max("weight").alias("weight"))


def expand_fuzzy_symspell(
    stats: DataFrame,
    qterms: DataFrame,
    max_expansions: int = 3,
) -> DataFrame:
    """SymSpell-style fuzzy expansion for edit distance <= 1 — the SCALE
    path of :func:`expand_fuzzy` (identical output contract, tested equal):
    instead of a broadcast nested-loop levenshtein theta-join over the
    dictionary, both sides explode to their deletion neighborhood
    D(x) = {x} + every single-character deletion, and candidates come from
    ONE equi-join on the deletion key (lev(q,t) <= 1 implies the
    neighborhoods intersect; the converse does not hold — e.g. transposed
    bigrams share deletes at distance 2 — so a cheap levenshtein
    post-filter on the tiny candidate set removes the false positives).

    At 10^12-doc scale the dictionary's deletion table (|vocab| x avg term
    length rows) is precomputed once at build time and stored next to the
    term dictionary; here it is derived inline. The per-row `transform`
    over the term string runs interpreted, but only over the Heaps-bounded
    vocabulary — never the corpus.
    """

    def _del_keys(col_name: str):
        return F.array_union(
            F.array(F.col(col_name)),
            F.expr(
                f"transform(sequence(1, length({col_name})), "
                f"i -> concat(substr({col_name}, 1, i-1), "
                f"substr({col_name}, i+1, length({col_name}))))"
            ),
        )

    dict_side = (
        stats.select(F.col("term").alias("variant"), "df")
        .withColumn("_key", F.explode(_del_keys("variant")))
        .dropDuplicates(["variant", "_key"])
    )
    q_side = (
        qterms.withColumn("_key", F.explode(_del_keys("term")))
        .dropDuplicates(["claim_id", "term", "_key"])
    )
    cand = (
        dict_side.join(q_side, "_key")
        .dropDuplicates(["claim_id", "term", "variant"])
        .withColumn("dist", F.levenshtein("term", "variant"))
        .filter(F.col("dist") <= 1)
    )
    w = Window.partitionBy("claim_id", "term").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("variant")
    )
    kept = (
        cand.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_expansions)
        .select(
            "claim_id",
            F.col("variant").alias("term"),
            F.round(F.lit(1.0) / (F.lit(1.0) + F.col("dist")), 6).alias("weight"),
        )
    )
    return kept.groupBy("claim_id", "term").agg(F.max("weight").alias("weight"))


def clarity_score(
    postings: DataFrame,
    stats: DataFrame,
    cstats: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    total_tokens: int,
    fb_docs: int = 5,
    fb_terms: int = 10,
    params: BM25Params = BM25Params(),
) -> DataFrame:
    """Query clarity score (Cronen-Townsend et al., SIGIR 2002 — query
    performance prediction): the KL divergence, in bits, between the
    query's relevance-model language model and the collection model. High
    clarity = the result set speaks a focused sub-language (the query will
    probably perform well); clarity near 0 = the query retrieves
    background noise. The standard pre-retrieval QA signal a serving stack
    uses to route hard queries to expansion/rerank tiers.

    Pinned spec (DuckDB twin identical): relevance model = RM3's feedback
    model with alpha = 0 (pure RM over the BM25 top-``fb_docs``, top
    ``fb_terms`` terms, 9-dp-rounded and renormalized — exactly the tested
    rm3_weights machinery); p_c(w) = ctf/T;
    clarity = round(sum_w rm(w) * ln(rm(w)/p_c(w)) * 1/ln(2), 6)
    (the 1/ln2 literal — not log2() — so both engines multiply the same
    double). Output: (claim_id, n_terms, clarity).

    Cost: one BM25 pass + one fb-doc-keyed postings read — the RM3 front
    half without the second scored pass.
    """
    first = score_exhaustive(
        postings, stats, qterms, n_docs, avgdl, k=fb_docs, params=params, rank_dp=6
    ).select("claim_id", "doc_id", "score")
    wterms = rm3_weights(first, postings, qterms, fb_terms=fb_terms, alpha=0.0)
    lm = wterms.filter(F.col("weight") > 0)
    p_c = F.col("ctf").cast("double") / F.lit(float(total_tokens))
    inv_ln2 = 1.4426950408889634
    return (
        lm.join(cstats, "term", "inner")
        .withColumn(
            "_kl", F.col("weight") * F.log(F.col("weight") / p_c) * F.lit(inv_ln2)
        )
        .groupBy("claim_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.round(F.sum("_kl"), 6).alias("clarity"),
        )
    )


def wildcard_terms(queries: DataFrame, claim_col: str = "claim") -> DataFrame:
    """Parse wildcard query strings into literal terms and patterns.

    Tokenization matches the engine's standard analyzer (split on
    non-[a-z0-9] after lowercasing) EXTENDED to keep ``*`` (any run) and
    ``?`` (single char) inside tokens — the Lucene WildcardQuery surface.
    -> (claim_id, tok, is_pattern); a token is a pattern iff it contains a
    wildcard char. Pure JVM expressions (split/filter/contains).
    """
    toks = queries.select(
        "claim_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col(claim_col)), r"[^a-z0-9*?]+"),
                lambda t: t != "",
            )
        ).alias("tok"),
    ).distinct()
    return toks.withColumn(
        "is_pattern", F.col("tok").contains("*") | F.col("tok").contains("?")
    )


def expand_wildcards(
    stats: DataFrame,
    qtoks: DataFrame,
    max_expansions: int = 16,
) -> DataFrame:
    """Wildcard-query expansion (the Lucene MultiTermQuery top-terms
    scoring rewrite): each pattern expands against the term DICTIONARY —
    never the postings — to at most ``max_expansions`` matching terms,
    highest-df first (ties by term asc: a deterministic, engine-portable
    cut, like Lucene's top-terms rewrite keeping the highest-frequency
    terms). Literal tokens pass through. The expanded union scores as a
    plain disjunction with each matched term's OWN idf (ScoringBoolean
    rewrite semantics), so downstream is ordinary score_exhaustive.

    -> (claim_id, term) — distinct, ready for the standard BM25 scorers.

    Pattern translation: ``*`` -> LIKE ``%``, ``?`` -> LIKE ``_``. Terms
    are [a-z0-9]+ so no LIKE metacharacter can occur literally in a token
    — translation needs no escaping.

    Relational shape: patterns (a handful per query batch) BROADCAST onto
    the Heaps-bounded dictionary — a nested-loop join over vocabulary x
    patterns, the same cost class as expand_fuzzy's banded scan; the
    corpus is never touched. A prefix-only deployment at 10^12 docs would
    range-prune a sorted dictionary instead (term >= 'pre' AND term <
    'prf') — LIKE keeps the general * / ? surface here.
    """
    pats = qtoks.filter(F.col("is_pattern")).select(
        "claim_id",
        F.col("tok"),
        F.replace(
            F.replace(F.col("tok"), F.lit("*"), F.lit("%")),
            F.lit("?"), F.lit("_"),
        ).alias("_like"),
    )
    cand = stats.select("term", "df").join(
        F.broadcast(pats), F.expr("term LIKE _like"), "inner"
    )
    expanded = topk(
        cand, max_expansions, None, cols=("claim_id", "term"), key="df",
        part=["claim_id", "tok"], tie="term",
    )
    literals = qtoks.filter(~F.col("is_pattern")).select(
        "claim_id", F.col("tok").alias("term")
    )
    return literals.unionByName(expanded).distinct()


def expand_regex(
    stats: DataFrame,
    patterns: DataFrame,
    max_expansions: int = 16,
) -> DataFrame:
    """Regexp-query expansion (the Lucene RegexpQuery surface): each
    pattern matches against the ENTIRE term (Lucene's anchored-automaton
    semantics — ``eng.*`` matches "engine", ``.*ine`` matches it too, a
    bare ``engine`` matches only itself), expanding against the term
    DICTIONARY — never the postings — to at most ``max_expansions``
    matching terms, highest-df first (ties term asc), exactly the
    top-terms cut of :func:`expand_wildcards`. The expanded union scores
    as a plain disjunction with each matched term's own idf.

    ``patterns``: (claim_id, pattern) — patterns are data, not free text
    (regex metacharacters would not survive the query tokenizer).
    PORTABILITY CONTRACT: patterns must stay in the Java-regex / RE2
    common subset (literals, ``.``, ``[...]`` classes, ``|``, ``*+?``,
    ``{n,m}``, groups) so the engine and the DuckDB oracle agree; both
    sides anchor with ^(?:...)$.

    Relational shape: identical cost class to expand_wildcards — a
    handful of patterns broadcast onto the Heaps-bounded dictionary
    (BroadcastNestedLoopJoin over vocab x patterns); the corpus is never
    touched. -> (claim_id, term), distinct.
    """
    pats = patterns.select(
        "claim_id",
        F.concat(F.lit("^(?:"), F.col("pattern"), F.lit(")$")).alias("_re"),
    )
    cand = stats.select("term", "df").join(
        F.broadcast(pats), F.expr("term RLIKE _re"), "inner"
    )
    return topk(
        cand, max_expansions, None, cols=("claim_id", "term"), key="df",
        part=["claim_id", "_re"], tie="term",
    ).distinct()


def phrase_suggest(
    cstats: DataFrame,
    bigram_counts: DataFrame,
    qphrases: list[tuple[int, str]],
    total_tokens: int,
    max_dist: int = 1,
    per_term: int = 3,
    topn: int = 3,
    alpha: float = 0.4,
    max_len: int = 6,
) -> DataFrame:
    """The ES *phrase suggester* (did-you-mean over whole inputs, not
    single terms): per-position candidate generation from the dictionary +
    a corpus bigram LM with stupid backoff (Brants et al. 2007) scoring
    whole candidate sequences, plus a per-token edit-channel penalty.

    Pinned spec (the DuckDB twin and the pytest replay implement the same):

      candidates(pos) = dictionary terms within levenshtein max_dist of
                        the input token, top ``per_term`` by
                        (dist asc, ctf desc, term asc)
      score(seq)      = ln(ctf(w0)/T)                       unigram prior
                        + sum_i ln S(w_i | w_{i-1})          stupid backoff
                        + sum_i -ln(1 + dist_i)              edit channel
      S(w2|w1)        = c(w1 w2)/ctf(w1) if the bigram exists,
                        else alpha * ctf(w2)/T

    Suggestions ranked round(score, 6) desc, suggestion asc, top ``topn``
    per input. Inputs whose every-position candidate set is empty (wildly
    OOV) return no rows — the ES "no suggestion" case.

    ``qphrases`` is a plain list of (claim_id, phrase): suggester inputs
    are literal user strings (metadata-scale by definition — same driver-
    side contract as parse_simple_query_string). Inputs longer than
    ``max_len`` tokens are truncated (the ES phrase suggester bounds input
    length the same way).

    Scale shape: the corpus-sized relations are the unigram dictionary
    (``cstats``: term -> ctf) and the bigram count relation — both
    Heaps-bounded aggregates the build already produces. Candidate
    generation is one broadcast band-join per position set; sequence
    enumeration chains at most max_len-1 joins over relations of
    O(claims x per_term) rows. Nothing corpus-sized is enumerated.

    CACHE CONTRACT (ADVICE r4): the per-position candidate relation is
    persisted via dedup._track_persist (it feeds every sequence-extension
    join). The persist outlives this call — after the action that
    materializes the returned plan, the caller must release it with
    ``dedup.release_cached()`` or by invoking inside ``dedup.cache_scope()``;
    repeated un-released invocations in one session accumulate cached
    relations (claims x per_term rows each — small, but unbounded over a
    long session).
    """
    from defactonlp_spark.functions.tokenize import tokenize_one

    spark = cstats.sparkSession
    T = float(total_tokens)
    tok_rows = []
    lengths: dict[int, int] = {}
    for cid, phrase in qphrases:
        toks = tokenize_one(phrase)[:max_len]
        if not toks:
            continue
        lengths[cid] = len(toks)
        for i, t in enumerate(toks):
            tok_rows.append((cid, i, t))
    if not tok_rows:
        return spark.createDataFrame(
            [], "claim_id long, rank int, suggestion string, score double"
        )
    qtok = spark.createDataFrame(tok_rows, "claim_id long, pos int, qterm string")

    cand = (
        cstats.select(F.col("term").alias("cand"), "ctf")
        .join(
            F.broadcast(qtok),
            F.abs(F.length("cand") - F.length("qterm")) <= max_dist,
            "inner",
        )
        .withColumn("dist", F.levenshtein("qterm", "cand"))
        .filter(F.col("dist") <= max_dist)
    )
    wc = Window.partitionBy("claim_id", "pos").orderBy(
        F.asc("dist"), F.desc("ctf"), F.asc("cand")
    )
    from defactonlp_spark.operators.dedup import _track_persist

    cand = _track_persist(
        cand.withColumn("_rk", F.row_number().over(wc))
        .filter(F.col("_rk") <= per_term)
        .select("claim_id", "pos", "cand", "dist", "ctf")
    )

    big = bigram_counts.select("w1", "w2", F.col("c").cast("double").alias("bc"))
    parts = []
    for length in sorted(set(lengths.values())):
        cids = [c for c, n in lengths.items() if n == length]
        base = cand.filter(F.col("claim_id").isin(cids) & (F.col("pos") == 0)).select(
            "claim_id",
            F.col("cand").alias("seq"),
            F.col("cand").alias("last"),
            F.col("ctf").alias("last_ctf"),
            (
                F.log(F.col("ctf").cast("double") / F.lit(T))
                - F.log(F.lit(1.0) + F.col("dist").cast("double"))
            ).alias("score"),
        )
        for i in range(1, length):
            nxt = cand.filter(F.col("claim_id").isin(cids) & (F.col("pos") == i)).select(
                "claim_id",
                F.col("cand").alias("c2"),
                F.col("dist").alias("d2"),
                F.col("ctf").alias("ctf2"),
            )
            pair = (
                base.join(nxt, "claim_id", "inner")
                .join(
                    big,
                    (F.col("last") == F.col("w1")) & (F.col("c2") == F.col("w2")),
                    "left",
                )
                .withColumn(
                    "score",
                    F.col("score")
                    + F.coalesce(
                        F.log(F.col("bc") / F.col("last_ctf").cast("double")),
                        F.log(F.lit(alpha) * F.col("ctf2").cast("double") / F.lit(T)),
                    )
                    - F.log(F.lit(1.0) + F.col("d2").cast("double")),
                )
            )
            base = pair.select(
                "claim_id",
                F.concat_ws(" ", "seq", "c2").alias("seq"),
                F.col("c2").alias("last"),
                F.col("ctf2").alias("last_ctf"),
                "score",
            )
        parts.append(base.select("claim_id", F.col("seq").alias("suggestion"), "score"))

    allseq = parts[0]
    for p in parts[1:]:
        allseq = allseq.unionByName(p)
    return topk(
        allseq, topn, 6, cols=("claim_id", "rank", "suggestion", "score"), tie="suggestion"
    )
