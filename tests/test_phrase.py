"""Exact phrase retrieval (operators/phrase.py): the anchor-trick match
and BM25 ranking vs a scalar brute-force oracle."""

import uuid

import numpy as np
import pytest

from defactonlp_spark.config import BM25Params
from defactonlp_spark.functions.tokenize import tokenize_one, tokenize_tokens
from defactonlp_spark.operators import postings as P
from defactonlp_spark.operators.phrase import phrase_matches, phrase_positions, score_phrase

DOCS = [
    (0, "alpha beta gamma"),
    (1, "beta alpha beta gamma delta"),
    (2, "gamma beta alpha"),
    (3, "alpha beta alpha beta"),
    (4, "Alpha, BETA! gamma?"),          # tokenizer folds case/punct
    (5, "alphabeta gamma"),              # no token boundary -> no match
]
PHRASES = [
    (100, "alpha beta"),        # docs 0, 1, 3, 4
    (101, "beta gamma"),        # docs 0, 1, 4
    (102, "alpha beta alpha"),  # doc 3 (repeated term)
    (103, "gamma"),             # single term: 0, 1, 2, 4, 5
    (104, "alpha gamma"),       # nowhere adjacent
    (105, "zeta alpha"),        # out-of-corpus term
]
EXPECT = {
    100: {0, 1, 3, 4},
    101: {0, 1, 4},
    102: {3},
    103: {0, 1, 2, 4, 5},
    104: set(),
    105: set(),
}


def _brute_matches(phrase: str) -> set[int]:
    p = tokenize_one(phrase)
    out = set()
    for did, text in DOCS:
        t = tokenize_one(text)
        if any(t[i : i + len(p)] == p for i in range(len(t) - len(p) + 1)):
            out.add(did)
    return out


def test_expectations_agree_with_scalar_oracle():
    for cid, phrase in PHRASES:
        assert _brute_matches(phrase) == EXPECT[cid], phrase


def test_phrase_matches_and_scores(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    phrases = spark.createDataFrame(PHRASES, "claim_id long, phrase string")
    tokens = tokenize_tokens(docs)
    got = {
        (r["claim_id"], r["doc_id"])
        for r in phrase_matches(tokens, phrase_positions(phrases)).collect()
    }
    expect = {(cid, did) for cid, dids in EXPECT.items() for did in dids}
    assert got == expect

    # ranking: BM25 sum over the phrase's distinct terms, matching docs only
    pl = P.build_postings(docs)
    stats = P.term_stats(pl)
    crow = P.corpus_stats(pl).collect()[0]
    n_docs, avgdl = int(crow["n_docs"]), float(crow["avgdl"])
    res = score_phrase(pl, stats, tokens, phrases, n_docs, avgdl, k=3).toPandas()
    by_claim = {c: g for c, g in res.groupby("claim_id")}
    assert set(by_claim) == {100, 101, 102, 103}  # 104/105 empty
    assert set(by_claim[102]["doc_id"]) == {3}

    # scores vs scalar BM25 oracle for claim 100
    from defactonlp_spark.operators.segments import bm25_contrib, idf

    toks = {d: tokenize_one(t) for d, t in DOCS}
    df_ = {t: sum(1 for tt in toks.values() if t in tt) for t in ("alpha", "beta")}
    g = by_claim[100].sort_values("rank")
    assert len(g) == 3  # 4 matching docs, k=3
    for _, row in g.iterrows():
        d = int(row["doc_id"])
        exp = sum(
            float(bm25_contrib(np.array([toks[d].count(t)]), np.array([len(toks[d])]),
                               float(idf(df_[t], n_docs)), avgdl, BM25Params()))
            for t in ("alpha", "beta")
        )
        assert row["score"] == pytest.approx(exp, abs=1e-12)


def test_phrase_random_corpus_vs_bruteforce(spark):
    """Randomized adjacency check on a fixture-sized corpus."""
    from defactonlp_spark.sources.fixtures import gen_webpages

    pdf = gen_webpages(n=120, seed=33, dup_frac=0.0)
    pdf["doc_id"] = range(len(pdf))
    docs = spark.createDataFrame(pdf[["doc_id", "text"]])
    # harvest real bigrams so matches are guaranteed non-trivial
    rng = np.random.default_rng(7)
    toks0 = tokenize_one(pdf["text"].iloc[5])
    bigrams = [f"{toks0[i]} {toks0[i+1]}" for i in rng.integers(0, len(toks0) - 1, 4)]
    phrases = [(i, b) for i, b in enumerate(bigrams)] + [(99, "nosuchterm xx")]
    got = {
        (r["claim_id"], r["doc_id"])
        for r in phrase_matches(
            tokenize_tokens(docs),
            phrase_positions(spark.createDataFrame(phrases, "claim_id long, phrase string")),
        ).collect()
    }
    toks = {d: tokenize_one(t) for d, t in zip(pdf["doc_id"], pdf["text"])}
    expect = set()
    for cid, ph in phrases:
        p = tokenize_one(ph)
        for d, t in toks.items():
            if any(t[i : i + len(p)] == p for i in range(len(t) - len(p) + 1)):
                expect.add((cid, d))
    assert got == expect
    assert len(got) > 0


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_query_phrase_index_path(spark, tmp_path):
    """query_phrase over a built index (positional sidecar + pruned segment
    decode) == the operator-level plan over raw relations; tombstones
    compose; missing sidecar raises. Planning runs one term probe (at most
    2 jobs), which prunes both the segments and the sidecar."""
    from defactonlp_spark.config import EngineConfig
    from defactonlp_spark.functions.tokenize import tokenize_tokens as tt
    from defactonlp_spark.plans.build import (
        IndexBuild,
        IndexReader,
        delete_docs,
        prepare_webpages,
    )
    from defactonlp_spark.plans.query import query_phrase
    from defactonlp_spark.sources.fixtures import gen_webpages

    cfg = EngineConfig(n_buckets=4)
    pages = spark.createDataFrame(gen_webpages(n=200, seed=41))
    corpus = prepare_webpages(pages).persist()
    d = str(tmp_path / "pidx")
    props = IndexBuild(d, cfg, build_id="p", n_groups=1, store_tokens=True).run(
        spark, corpus, input_snapshot="p"
    )
    assert props["has_tokens"] is True
    r = IndexReader(spark, d)

    one = corpus.select("text").first()["text"]
    toks0 = tokenize_one(one)
    phrases = spark.createDataFrame(
        [(0, f"{toks0[3]} {toks0[4]}"), (1, f"{toks0[10]} {toks0[11]} {toks0[12]}"),
         (2, "nosuchterm whatsoever")],
        "claim_id long, phrase string",
    )
    planned, n_jobs = _jobs(spark, lambda: query_phrase(r, phrases, k=5, cfg=cfg))
    assert n_jobs <= 2
    got = planned.toPandas().sort_values(["claim_id", "rank"]).reset_index(drop=True)
    assert len(got) > 0 and 2 not in set(got["claim_id"])

    pl = P.build_postings(corpus)
    exp = (score_phrase(pl, P.term_stats(pl), tt(corpus), phrases,
                        r.n_docs, r.avgdl, k=5, params=cfg.bm25).toPandas()
           .sort_values(["claim_id", "rank"]).reset_index(drop=True))
    assert (got["doc_id"] == exp["doc_id"]).all()
    assert np.allclose(got["score"], exp["score"], rtol=0, atol=1e-12)

    # tombstones: delete claim 0's best doc — it disappears even though the
    # sidecar still stores its tokens (the masked postings semi-join wins)
    best = int(got[(got["claim_id"] == 0) & (got["rank"] == 1)]["doc_id"].iloc[0])
    delete_docs(spark, d, [best])
    got2 = query_phrase(IndexReader(spark, d), phrases, k=5, cfg=cfg).toPandas()
    assert best not in set(got2["doc_id"].astype(int))

    # an index built WITHOUT the sidecar refuses phrase queries loudly
    d2 = str(tmp_path / "nopos")
    IndexBuild(d2, cfg, build_id="np", n_groups=1).run(spark, corpus, input_snapshot="np")
    with pytest.raises(FileNotFoundError, match="store_tokens"):
        query_phrase(IndexReader(spark, d2), phrases, k=5, cfg=cfg).count()
    corpus.unpersist()


def test_phrase_sidecar_survives_compaction(spark, tmp_path):
    """merge_builds carries the positional sidecar: tombstoned docs' tokens
    are dropped physically, buckets recomputed, and query_phrase keeps
    working over the compacted index."""
    from defactonlp_spark.config import EngineConfig
    from defactonlp_spark.plans.build import (
        IndexBuild,
        IndexReader,
        delete_docs,
        merge_builds,
        prepare_webpages,
    )
    from defactonlp_spark.plans.query import query_phrase
    from defactonlp_spark.sources.fixtures import gen_webpages

    cfg = EngineConfig(n_buckets=4)
    corpus = prepare_webpages(
        spark.createDataFrame(gen_webpages(n=150, seed=43))
    ).persist()
    d = str(tmp_path / "src")
    IndexBuild(d, cfg, build_id="s", n_groups=1, store_tokens=True).run(
        spark, corpus, input_snapshot="s"
    )
    t0 = tokenize_one(corpus.select("text").first()["text"])
    phrases = spark.createDataFrame(
        [(0, f"{t0[0]} {t0[1]}")], "claim_id long, phrase string"
    )
    base = query_phrase(IndexReader(spark, d), phrases, k=5, cfg=cfg).toPandas()
    assert len(base) > 0
    best = int(base.loc[base["rank"] == 1, "doc_id"].iloc[0])
    delete_docs(spark, d, [best])

    dst = str(tmp_path / "dst")
    props = merge_builds(spark, [d], dst, cfg)
    assert props["has_tokens"] is True
    rm = IndexReader(spark, dst)
    got = query_phrase(rm, phrases, k=5, cfg=cfg).toPandas()
    assert best not in set(got["doc_id"].astype(int))
    # the deleted doc's tokens are physically gone from the merged sidecar
    assert rm.tokens().filter(f"doc_id = {best}").count() == 0
    # surviving matches intact: every pre-delete hit except the tombstone
    assert set(got["doc_id"].astype(int)) == set(base["doc_id"].astype(int)) - {best}
    corpus.unpersist()


def test_phrase_snippets(spark):
    """KWIC snippets vs a scalar slice oracle, window clipping included."""
    from defactonlp_spark.operators.phrase import phrase_snippets

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    phrases = spark.createDataFrame(PHRASES, "claim_id long, phrase string")
    got = {
        (r["claim_id"], r["doc_id"]): (r["anchor"], r["snippet"])
        for r in phrase_snippets(tokenize_tokens(docs), phrases, window=2).collect()
    }
    toks = {d: tokenize_one(t) for d, t in DOCS}
    expect = {}
    for cid, ph in PHRASES:
        p = tokenize_one(ph)
        for d, t in toks.items():
            firsts = [i for i in range(len(t) - len(p) + 1) if t[i : i + len(p)] == p]
            if firsts:
                a = firsts[0]
                expect[(cid, d)] = (a, " ".join(t[max(0, a - 2) : a + len(p) + 2]))
    assert got == expect
    # doc 3 "alpha beta alpha beta" + phrase 100 "alpha beta": FIRST hit at 0
    assert got[(100, 3)] == (0, "alpha beta alpha beta")

    # limit_docs restricts to given (claim, doc) hits
    lim = spark.createDataFrame([(100, 0)], "claim_id long, doc_id long")
    only = phrase_snippets(tokenize_tokens(docs), phrases, window=2, limit_docs=lim).collect()
    assert {(r["claim_id"], r["doc_id"]) for r in only} == {(100, 0)}


def test_suggest_terms(spark):
    from defactonlp_spark.operators.postings import suggest_terms

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    stats = P.term_stats(P.build_postings(docs))
    prefixes = spark.createDataFrame([("al",), ("b",), ("zzz",)], "prefix string")
    got = suggest_terms(stats, prefixes, k=2).toPandas()
    rows = {(r.prefix, r.rank): (r.term, r.df) for r in got.itertuples()}
    # df: alpha in docs 0-4 (5), alphabeta in doc 5 (1); beta in 0-4 (5)
    assert rows[("al", 1)] == ("alpha", 5)
    assert rows[("al", 2)] == ("alphabeta", 1)
    assert rows[("b", 1)] == ("beta", 5)
    assert ("zzz", 1) not in rows


def _brute_prox(text: str, terms: list[str], w: int) -> bool:
    t = tokenize_one(text)
    occ = [i for i, x in enumerate(t) if x in terms]
    need = set(terms)
    return any(need <= set(t[a : a + w]) for a in occ)


def test_proximity_matches_and_scores(spark):
    from defactonlp_spark.operators.phrase import proximity_matches, score_proximity
    from defactonlp_spark.operators.bm25 import claim_terms

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    claims = [(200, "alpha gamma"), (201, "delta beta"), (202, "alpha zeta")]
    cdf = spark.createDataFrame(claims, "claim_id long, claim string")
    W = 3
    got = {
        (r["claim_id"], r["doc_id"])
        for r in proximity_matches(tokenize_tokens(docs), claim_terms(cdf), W).collect()
    }
    expect = {
        (cid, did)
        for cid, c in claims
        for did, text in DOCS
        if _brute_prox(text, tokenize_one(c), W)
    }
    assert got == expect
    # sanity on the shape: "alpha gamma" never ADJACENT (phrase fails) but
    # within 3 tokens in docs 0/1/2/4; out-of-corpus zeta matches nothing
    assert (200, 0) in got and all(c != 202 for c, _ in got)

    res = score_proximity(
        P.build_postings(docs), P.term_stats(P.build_postings(docs)),
        tokenize_tokens(docs), cdf, 6, 3.5, window=W, k=10,
    ).toPandas()
    assert {(r.claim_id, r.doc_id) for r in res.itertuples()} == got


def test_proximity_random_corpus_vs_bruteforce(spark):
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.phrase import proximity_matches
    from defactonlp_spark.sources.fixtures import gen_webpages

    pdf = gen_webpages(n=80, seed=55, dup_frac=0.0)
    pdf["doc_id"] = range(len(pdf))
    docs = spark.createDataFrame(pdf[["doc_id", "text"]])
    toks5 = tokenize_one(pdf["text"].iloc[2])
    claims = [(0, f"{toks5[0]} {toks5[7]}"), (1, f"{toks5[1]} {toks5[4]} {toks5[9]}")]
    cdf = spark.createDataFrame(claims, "claim_id long, claim string")
    for W in (4, 12):
        got = {
            (r["claim_id"], r["doc_id"])
            for r in proximity_matches(tokenize_tokens(docs), claim_terms(cdf), W).collect()
        }
        expect = {
            (cid, int(d))
            for cid, c in claims
            for d, text in zip(pdf["doc_id"], pdf["text"])
            if _brute_prox(text, tokenize_one(c), W)
        }
        assert got == expect, W
    assert len(got) > 0


def test_best_passage_matches_scalar_replay(spark):
    from defactonlp_spark.operators.phrase import best_passage
    from defactonlp_spark.sources.fixtures import gen_webpages

    pdf = gen_webpages(n=60, seed=77, dup_frac=0.0)
    pdf["doc_id"] = range(len(pdf))
    docs = spark.createDataFrame(pdf[["doc_id", "text"]])
    texts = {int(r.doc_id): r.text for r in pdf.itertuples()}
    toks3 = tokenize_one(texts[3])
    claims = [(0, f"{toks3[0]} {toks3[5]} {toks3[11]}"), (1, f"{toks3[2]} zzznope")]
    cdf = spark.createDataFrame(claims, "claim_id long, claim string")
    from defactonlp_spark.operators.bm25 import claim_terms

    qt = claim_terms(cdf)
    scope_rows = [(0, d) for d in (1, 3, 7)] + [(1, d) for d in (3, 9)]
    scope = spark.createDataFrame(scope_rows, "claim_id long, doc_id long")
    W = 8
    got = {
        (r["claim_id"], r["doc_id"]): (r["start_pos"], r["n_terms"], r["n_hits"])
        for r in best_passage(tokenize_tokens(docs), qt, scope, window=W).collect()
    }

    want = {}
    for cid, claim in claims:
        terms = set(tokenize_one(claim))
        for c2, d in scope_rows:
            if c2 != cid:
                continue
            toks = tokenize_one(texts[d])
            hits = [(i, t) for i, t in enumerate(toks) if t in terms]
            best = None
            for s, _ in hits:
                inw = [(i, t) for i, t in hits if s <= i <= s + W - 1]
                cand = (len({t for _, t in inw}), len(inw), -s)
                if best is None or cand > best[0]:
                    best = (cand, s)
            if best:
                (nt, nh, _), s = best
                want[(cid, d)] = (s, nt, nh)
    assert got == want
    assert all(k in got for k in want)
