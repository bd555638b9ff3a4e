"""Alternative-similarity operators: Dirichlet- and Jelinek-Mercer-
smoothed query likelihood, DFR I(n)L2, and corpus-LM document perplexity
(with BM25 and classic TF-IDF elsewhere, this completes the similarity
families Lucene ships: BM25 / LMDirichlet / LMJelinekMercer / DFR /
TFIDF).

Public refs: Zhai & Lafferty 2001 (Dirichlet-prior smoothing; the formula
Lucene ships as ``LMDirichletSimilarity``); CCNet (Wenzek et al. 2020) uses
LM perplexity as its web-text quality filter — here the LM is the corpus's
own unigram model (exactly computable from the build's postings relation;
a real deployment swaps in a held-out KenLM, the relational shape is
identical).

Pinned semantics (the DuckDB twins and the pytest scalar oracles implement
the same spec):

Dirichlet query likelihood, for a claim q (DISTINCT terms) and doc d:
  p_c(t)  = ctf_t / T          (collection term frequency over total tokens)
  score   = sum over matched in-collection terms of ln(1 + tf/(mu*p_c(t)))
            + n_q_in * ln(mu / (dl + mu))
  n_q_in  = count of the claim's distinct terms that exist in the collection
            (out-of-vocabulary terms are dropped — p_c = 0 has no defined
            likelihood; the standard convention).
  Candidates are docs matching >= 1 in-collection query term. This is the
  rank-preserving decomposition of log p(q|d): the matched-term sum plus a
  per-doc length normalizer that applies to ALL n_q_in terms (unmatched
  terms contribute exactly the normalizer).
  Ranking: round(score, 6) desc, doc_id asc — docs with identical (tf
  profile, dl) tie EXACTLY in math, and raw-float windows would order them
  by engine summation noise (same pinning as RM3/MLT).

Perplexity, for doc d:
  H(d)   = -(1/dl) * sum over d's terms of tf * ln(ctf_t / T)
  ppl(d) = exp(round(H, 6))
  Every token of d is in the collection by construction (ctf >= tf >= 1),
  so H is total. ppl is computed from the ROUNDED cross-entropy in both
  engines so the exp sees bit-identical input.

Scale shape: every scorer here is a ``contrib`` expression over
``bm25.score_terms`` (one postings scan, the query side broadcast, one hash
aggregate) followed by ``bm25.topk``; perplexity is a term-keyed (ctf) join
+ one hash aggregate. ctf_stats is a term-keyed aggregate the build already
shuffles for; at 10^12 docs it rides the existing term range partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from defactonlp_spark.operators.bm25 import score_terms, topk


_INV_LN2 = 1.4426950408889634  # log2(x) pinned as ln(x) * _INV_LN2 everywhere


def ctf_stats(postings: DataFrame) -> DataFrame:
    """(term, ctf): collection term frequency — total occurrences across the
    corpus (sum of tf), as distinct from df (document frequency)."""
    return postings.groupBy("term").agg(F.sum("tf").cast("long").alias("ctf"))


def score_lm_dirichlet(
    postings: DataFrame,
    cstats: DataFrame,
    qterms: DataFrame,
    total_tokens: int,
    mu: float = 2000.0,
    k: int = 5,
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood top-k.

    ``postings``: (term, doc_id, tf, dl); ``cstats``: (term, ctf) from
    :func:`ctf_stats`; ``qterms``: (claim_id, term) distinct; ``total_tokens``
    from the build manifest / ``corpus_stats`` (NOT recomputed per query —
    same consistency contract as BM25's N/avgdl).
    """
    return topk(lm_dirichlet_all(postings, cstats, qterms, total_tokens, mu), k, 6)


def lm_dirichlet_all(
    postings: DataFrame,
    cstats: DataFrame,
    qterms: DataFrame,
    total_tokens: int,
    mu: float = 2000.0,
) -> DataFrame:
    """Every matching (claim_id, doc_id, score) Dirichlet pair — the
    un-truncated half of :func:`score_lm_dirichlet` (the LTR feature logger
    scores its BM25 candidates with it). ``dl`` rides the
    :func:`~defactonlp_spark.operators.bm25.score_terms` aggregate; the
    per-doc normalizer is added per GROUP, and n_q_in arrives by a second
    tiny broadcast."""
    T = float(total_tokens)
    q = qterms.join(cstats, "term", "inner")  # in-collection terms only
    nq = q.groupBy("claim_id").agg(F.count(F.lit(1)).cast("double").alias("n_q_in"))
    tf = F.col("tf").cast("double")
    p_c = F.col("ctf").cast("double") / F.lit(T)
    contrib = F.log1p(tf / (F.lit(float(mu)) * p_c))
    return (
        score_terms(postings, q, contrib, F.first("dl").cast("double").alias("dl"))
        .join(F.broadcast(nq), "claim_id", "inner")
        .withColumn(
            "score",
            F.col("score")
            + F.col("n_q_in") * F.log(F.lit(float(mu)) / (F.col("dl") + F.lit(float(mu)))),
        )
        .select("claim_id", "doc_id", "score")
    )


def score_lm_jelinek_mercer(
    postings: DataFrame,
    cstats: DataFrame,
    qterms: DataFrame,
    total_tokens: int,
    lam: float = 0.1,
    k: int = 5,
) -> DataFrame:
    """Jelinek-Mercer-smoothed query likelihood (Lucene
    ``LMJelinekMercerSimilarity``; Zhai & Lafferty 2001 recommend
    lambda ~ 0.1 for short/title queries).

    Rank-equivalent scoring form (per matched in-collection term):
      score = sum ln(1 + ((1-lambda)/lambda) * (tf/dl) / p_c(t))
    Unlike Dirichlet there is NO per-doc length normalizer outside the
    sum — unmatched terms contribute exactly 0 — so it is a bare
    contribution over ``score_terms``.
    Ranking pinned: round(score, 6) desc, doc_id asc.
    """
    T = float(total_tokens)
    ratio = (1.0 - float(lam)) / float(lam)
    q = qterms.join(cstats, "term", "inner")  # in-collection terms only
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    p_c = F.col("ctf").cast("double") / F.lit(T)
    contrib = F.log1p(F.lit(ratio) * (tf / dl) / p_c)
    return topk(score_terms(postings, q, contrib), k, 6)


def score_dfr_inl2(
    postings: DataFrame,
    dstats: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    c: float = 1.0,
    k: int = 5,
) -> DataFrame:
    """DFR I(n)L2 similarity (Amati & van Rijsbergen 2002; Lucene
    ``DFRSimilarity(BasicModelIn, AfterEffectL, NormalizationH2)``):

      tfn    = tf * log2(1 + c * avgdl / dl)          (H2 normalization)
      score  = sum over matched terms of
               (1 / (tfn + 1)) * tfn * log2((N + 1) / (df + 0.5))

    log2 is pinned as ln(x) * INV_LN2 with a shared Python literal so
    both engines build the identical expression tree (their native
    log2() builtins are separate libm entry points).  ``dstats`` is the
    dictionary relation (term, df). Ranking pinned round(score,6) desc,
    doc_id asc.
    """
    q = qterms.join(dstats.select("term", "df"), "term", "inner")
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    tfn = tf * (F.log(F.lit(1.0) + F.lit(float(c) * float(avgdl)) / dl) * F.lit(_INV_LN2))
    inf = F.log(F.lit(float(n_docs) + 1.0) / (F.col("df").cast("double") + F.lit(0.5))) * F.lit(_INV_LN2)
    contrib = (F.lit(1.0) / (tfn + F.lit(1.0))) * tfn * inf
    return topk(score_terms(postings, q, contrib), k, 6)


def doc_perplexity(postings: DataFrame, cstats: DataFrame, total_tokens: int) -> DataFrame:
    """Per-doc unigram-LM cross-entropy + perplexity over the corpus model:
    (doc_id, n_tokens, cross_entropy, ppl). High-ppl docs are the unusual /
    low-quality tail a CCNet-style filter drops (low-ppl = boilerplate-like).

    Plan: postings join ctf on term (both term-keyed — at scale this join
    co-locates on the build's term partitioning), one hash aggregate per
    doc. No broadcast of anything corpus-sized.
    """
    T = float(total_tokens)
    tok_h = F.col("tf").cast("double") * F.log(F.col("ctf").cast("double") / F.lit(T))
    per_doc = (
        postings.join(cstats, "term", "inner")
        .withColumn("tok_h", tok_h)
        .groupBy("doc_id")
        .agg(
            F.first("dl").cast("long").alias("n_tokens"),
            F.sum("tok_h").alias("hsum"),
        )
        .withColumn(
            "cross_entropy",
            F.round(-F.col("hsum") / F.col("n_tokens").cast("double"), 6),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "cross_entropy",
        F.round(F.exp("cross_entropy"), 4).alias("ppl"),
    )


# ---------------------------------------------------------------------------
# Round-4 continuation: the three Lucene similarity families still missing
# after BM25 / TF-IDF / LMDirichlet / LMJelinekMercer / DFR(InL2) — DFI,
# IB (SPL-D-H2), and Axiomatic F2EXP. With these, every scoring family
# Lucene ships as a named Similarity class has a DataFrame-native analog
# over the same score_terms core.
# ---------------------------------------------------------------------------


def score_dfi_chisq(
    postings: DataFrame,
    cstats: DataFrame,
    qterms: DataFrame,
    total_tokens: int,
    k: int = 5,
) -> DataFrame:
    """DFI — Divergence From Independence with the chi-squared measure
    (Kocabas, Dincer & Karaoglan 2014; Lucene ``DFISimilarity(
    IndependenceChiSquared)``). Nonparametric: no tunables at all.

      expected = dl * ctf / T      (tf under term/doc independence)
      chi2     = (tf - expected)^2 / expected
      contrib  = log2(1 + chi2)    if tf > expected else 0

    Lucene zeroes terms at-or-below their expected frequency (a doc can
    match yet score 0 — kept, ranked by the doc_id tiebreak). Candidates
    are docs matching >= 1 in-collection query term. Ranking pinned
    round(score, 6) desc, doc_id asc.
    """
    T = float(total_tokens)
    q = qterms.join(cstats, "term", "inner")  # in-collection terms only
    tf = F.col("tf").cast("double")
    expected = F.col("dl").cast("double") * F.col("ctf").cast("double") / F.lit(T)
    chi2 = (tf - expected) * (tf - expected) / expected
    contrib = F.when(tf > expected, F.log1p(chi2) * F.lit(_INV_LN2)).otherwise(F.lit(0.0))
    return topk(score_terms(postings, q, contrib), k, 6)


def score_ib_spl(
    postings: DataFrame,
    dstats: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    c: float = 1.0,
    k: int = 5,
) -> DataFrame:
    """Information-Based similarity, SPL distribution (Clinchant & Gaussier
    2010 "Information-based models for ad hoc IR"; Lucene ``IBSimilarity(
    DistributionSPL, LambdaDF, NormalizationH2)``):

      lambda_t = (df + 1) / (N + 1)            (LambdaDF)
      tfn      = tf * log2(1 + c * avgdl / dl) (H2 normalization)
      contrib  = -log2( (lambda_t^(tfn/(tfn+1)) - lambda_t) / (1 - lambda_t) )

    LambdaDF degenerates (0/0) when a queried term occurs in EVERY doc
    (lambda = 1): its SPL information content is undefined and the term
    carries zero discriminating information, so corpus-wide terms are
    DROPPED from scoring (pinned spec — Lucene silently produces
    NaN/Infinity here; under Spark ANSI mode that is a hard error, and
    dropping is the principled behavior a stopword filter would give).
    Ranking pinned round(score, 6) desc, doc_id asc.
    """
    q = (
        qterms.join(dstats.select("term", "df"), "term", "inner")
        .filter(F.col("df") < F.lit(int(n_docs)))
    )
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    lam = (F.col("df").cast("double") + F.lit(1.0)) / F.lit(float(n_docs) + 1.0)
    tfn = tf * (F.log(F.lit(1.0) + F.lit(float(c) * float(avgdl)) / dl) * F.lit(_INV_LN2))
    contrib = -(
        F.log((F.pow(lam, tfn / (tfn + F.lit(1.0))) - lam) / (F.lit(1.0) - lam))
        * F.lit(_INV_LN2)
    )
    return topk(score_terms(postings, q, contrib), k, 6)


def score_axiomatic_f2exp(
    postings: DataFrame,
    dstats: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    s: float = 0.5,
    k_exp: float = 0.35,
    k: int = 5,
) -> DataFrame:
    """Axiomatic F2EXP (Fang & Zhai 2005 "An exploration of axiomatic
    approaches to information retrieval"; Lucene ``AxiomaticF2EXP`` with
    its shipped defaults s=0.5, k=0.35). Per matched query term (qtf = 1 —
    claim terms are DISTINCT, matching every other ad-hoc path here):

      contrib = (N / df)^k * tf / (tf + s + s * dl / avgdl)

    Purely algebraic (one pow per term), no logs; ranking pinned
    round(score, 6) desc, doc_id asc.
    """
    q = qterms.join(dstats.select("term", "df"), "term", "inner")
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    idf = F.pow(F.lit(float(n_docs)) / F.col("df").cast("double"), F.lit(float(k_exp)))
    contrib = idf * tf / (tf + F.lit(float(s)) + F.lit(float(s)) * dl / F.lit(float(avgdl)))
    return topk(score_terms(postings, q, contrib), k, 6)


def score_bm25_plus(
    postings: DataFrame,
    dstats: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
    delta: float = 1.0,
    k: int = 5,
) -> DataFrame:
    """BM25+ (Lv & Zhai, CIKM 2011 "Lower-bounding term frequency
    normalization"): classic BM25 plus a per-matched-term floor ``delta``,
    fixing BM25's over-penalization of very long documents — a long doc
    that MATCHES a term can never contribute less than delta * idf, so it
    always beats a non-matching doc on that term.

      contrib = idf * (tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) + delta)

    idf is the same Robertson-Sparck-Jones log the BM25 path uses
    (ln(1 + (N - df + 0.5)/(df + 0.5))); pinned ranking (round 6 desc,
    doc_id asc) as every ad-hoc scorer here.
    """
    q = qterms.join(dstats.select("term", "df"), "term", "inner")
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    df_ = F.col("df").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - df_ + F.lit(0.5)) / (df_ + F.lit(0.5))
    )
    norm = tf + F.lit(float(k1)) * (
        F.lit(1.0 - b) + F.lit(float(b)) * dl / F.lit(float(avgdl))
    )
    contrib = idf * (tf * F.lit(float(k1) + 1.0) / norm + F.lit(float(delta)))
    return topk(score_terms(postings, q, contrib), k, 6)
