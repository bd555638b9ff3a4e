"""RM3 pseudo-relevance feedback (operators/expansion.py) vs a scalar
oracle implementing the pinned spec, plus ad-hoc vs index-path parity."""

import math
import uuid
from collections import Counter

import pytest

from defactonlp_spark.config import BM25Params, EngineConfig
from defactonlp_spark.functions.tokenize import tokenize_one
from defactonlp_spark.operators import postings as P
from defactonlp_spark.operators.bm25 import claim_terms
from defactonlp_spark.operators.expansion import rm3_expand, rm3_topk
from tests.oracle_bm25 import bm25_topk_oracle, build_oracle_index

DOCS = [
    (0, "apple banana cherry apple"),
    (1, "banana cherry date elder"),
    (2, "apple apple fig grape"),
    (3, "cherry date fig apple banana"),
    (4, "grape elder banana banana"),
    (5, "fig grape date cherry"),
    (6, "apple elder fig banana cherry"),
    (7, "date date grape apple"),
]
CLAIMS = {100: "apple banana", 101: "fig", 102: "zzznope"}
FB_DOCS, FB_TERMS, ALPHA, K = 3, 4, 0.5, 5


def _scalar_rm3():
    texts = dict(DOCS)
    postings, dl, n, avgdl = build_oracle_index(texts)
    first = bm25_topk_oracle(texts, CLAIMS, k=FB_DOCS)
    params = BM25Params()
    weights = {}
    for cid, claim in CLAIMS.items():
        fb = first.get(cid, [])
        qs = sorted(set(tokenize_one(claim)))
        orig = {t: 1.0 / len(qs) for t in qs}
        rm_p = {}
        if fb:
            ssum = sum(s for _, s in fb)
            rm = Counter()
            for did, s in fb:
                toks = tokenize_one(texts[did])
                c = Counter(toks)
                for t, tf in c.items():
                    rm[t] += tf / len(toks) * (s / ssum)
            rm = {t: round(v, 9) for t, v in rm.items()}
            kept = sorted(rm.items(), key=lambda kv: (-kv[1], kv[0]))[:FB_TERMS]
            ksum = sum(v for _, v in kept)
            rm_p = {t: round(v / ksum, 9) for t, v in kept}
        weights[cid] = {
            t: round(ALPHA * orig.get(t, 0.0) + (1 - ALPHA) * rm_p.get(t, 0.0), 9)
            for t in set(orig) | set(rm_p)
        }
    # weighted second pass
    out = {}
    for cid, ws in weights.items():
        rows = []
        for did in dl:
            toks = tokenize_one(texts[did])
            c = Counter(toks)
            score = 0.0
            for t in sorted(ws):
                if c.get(t, 0) == 0 or t not in postings:
                    continue
                df = len(postings[t])
                idf = math.log1p((n - df + 0.5) / (df + 0.5))
                tf = c[t]
                score += ws[t] * (
                    idf * tf * (params.k1 + 1)
                    / (tf + params.k1 * (1 - params.b + params.b * dl[did] / avgdl))
                )
            if score > 0:
                rows.append((did, score))
        # rank on round(score, 9): weighted sums tie exactly for docs with
        # equal term profiles, and raw-float ordering of such ties is
        # engine noise (matches the engine's rank_dp=9)
        rows.sort(key=lambda r: (-round(r[1], 9), r[0]))
        out[cid] = rows[:K]
    return weights, out


@pytest.fixture(scope="module")
def fixtures(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    claims = spark.createDataFrame(
        list(CLAIMS.items()), "claim_id long, claim string"
    )
    p = P.build_postings(docs).persist()
    n_docs, avgdl = P.corpus_stats(p).collect()[0][:2]
    return docs, claims, p, int(n_docs), float(avgdl)


def test_rm3_weights_match_scalar(spark, fixtures):
    docs, claims, p, n_docs, avgdl = fixtures
    want, _ = _scalar_rm3()
    got = rm3_expand(
        p, P.term_stats(p), claim_terms(claims), n_docs, avgdl,
        fb_docs=FB_DOCS, fb_terms=FB_TERMS, alpha=ALPHA,
    ).collect()
    got_map: dict = {}
    for r in got:
        got_map.setdefault(r["claim_id"], {})[r["term"]] = r["weight"]
    for cid, ws in want.items():
        assert set(got_map.get(cid, {})) == set(ws), cid
        for t, v in ws.items():
            assert got_map[cid][t] == pytest.approx(v, abs=2e-9), (cid, t)
    # OOV-only claim keeps just its original (never-matching) term
    assert got_map[102] == {"zzznope": pytest.approx(0.5)}


def test_rm3_topk_matches_scalar(spark, fixtures):
    docs, claims, p, n_docs, avgdl = fixtures
    _, want = _scalar_rm3()
    got = rm3_topk(
        p, P.term_stats(p), claim_terms(claims), n_docs, avgdl,
        k=K, fb_docs=FB_DOCS, fb_terms=FB_TERMS, alpha=ALPHA, rank_dp=9,
    ).collect()
    got_map: dict = {}
    for r in got:
        got_map.setdefault(r["claim_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    for cid, rows in want.items():
        have = sorted(got_map.get(cid, []))
        assert [d for _, d, _ in have] == [d for d, _ in rows], cid
        for (_, _, hs), (_, ws) in zip(have, rows):
            # weights are pinned at 9 dp; a half-boundary there can move a
            # score by ~1e-9 * bm25 — allow that, ids above are exact
            assert hs == pytest.approx(ws, abs=5e-9), cid
    assert 102 not in got_map  # OOV claim: no results


def test_index_path_matches_adhoc(spark, fixtures, tmp_path):
    from defactonlp_spark.plans.build import IndexBuild, IndexReader
    from defactonlp_spark.plans.query import query_rm3

    docs, claims, p, n_docs, avgdl = fixtures
    adhoc = rm3_topk(
        p, P.term_stats(p), claim_terms(claims), n_docs, avgdl,
        k=K, fb_docs=FB_DOCS, fb_terms=FB_TERMS, alpha=ALPHA, rank_dp=9,
    ).collect()
    cfg = EngineConfig(n_buckets=4)
    IndexBuild(str(tmp_path / "idx"), cfg, build_id="r").run(
        spark, docs, input_snapshot="r"
    )
    r = IndexReader(spark, str(tmp_path / "idx"))
    idx = query_rm3(
        r, claims, k=K, fb_docs=FB_DOCS, fb_terms=FB_TERMS, alpha=ALPHA,
        cfg=cfg, rank_dp=9,
    ).collect()
    key = lambda rows: sorted((x["claim_id"], x["rank"], x["doc_id"]) for x in rows)
    assert key(adhoc) == key(idx)
    sa = {(x["claim_id"], x["doc_id"]): x["score"] for x in adhoc}
    si = {(x["claim_id"], x["doc_id"]): x["score"] for x in idx}
    for kk, v in sa.items():
        assert si[kk] == pytest.approx(v, rel=1e-12)


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


def test_index_path_runs_first_pass_once(spark, fixtures, tmp_path):
    """query_rm3 checkpoints the relevance-model weights while planning, so
    the action runs only the second pass: fewer jobs than the planning that
    evaluated the first pass, and the same rows on a second call."""
    from defactonlp_spark.plans.build import IndexBuild, IndexReader
    from defactonlp_spark.plans.query import query_rm3

    docs, claims, *_ = fixtures
    cfg = EngineConfig(n_buckets=4)
    IndexBuild(str(tmp_path / "idx"), cfg, build_id="j").run(
        spark, docs, input_snapshot="j"
    )
    r = IndexReader(spark, str(tmp_path / "idx"))
    run = lambda: query_rm3(
        r, claims, k=K, fb_docs=FB_DOCS, fb_terms=FB_TERMS, alpha=ALPHA,
        cfg=cfg, rank_dp=9,
    )
    res, plan_jobs = _jobs(spark, run)
    rows, action_jobs = _jobs(spark, res.collect)
    assert action_jobs < plan_jobs, (plan_jobs, action_jobs)
    key = lambda rows: sorted((x["claim_id"], x["rank"], x["doc_id"], x["score"]) for x in rows)
    assert key(rows) == key(run().collect())


def test_expand_synonyms(spark, fixtures):
    from defactonlp_spark.operators.expansion import expand_synonyms, score_weighted

    docs, claims, p, n_docs, avgdl = fixtures
    syns = spark.createDataFrame(
        [("apple", "fig"), ("banana", "apple"), ("zzznope", "grape")],
        "term string, variant string",
    )
    q = claim_terms(claims)
    w = expand_synonyms(q, syns, syn_weight=0.5)
    got = {(r["claim_id"], r["term"]): r["weight"] for r in w.collect()}
    # claim 100 = "apple banana": apple orig 1.0 (beats the 0.5 variant of
    # banana), banana 1.0, fig 0.5 via apple
    assert got[(100, "apple")] == 1.0
    assert got[(100, "banana")] == 1.0
    assert got[(100, "fig")] == 0.5
    # claim 101 = "fig": no synonym rows for fig -> unchanged
    assert got[(101, "fig")] == 1.0 and (101, "apple") not in got
    # claim 102 = "zzznope": variant still attaches (scoring drops the OOV
    # original naturally; the variant CAN match)
    assert got[(102, "grape")] == 0.5
    res = score_weighted(p, P.term_stats(p), w, n_docs, avgdl, k=5, rank_dp=9)
    rows = {r["claim_id"] for r in res.collect()}
    assert 102 in rows  # grape matches even though zzznope is OOV


def test_clarity_score_scalar_replay(spark):
    """Clarity replay over a tiny corpus: BM25 top-fb docs -> RM weights
    (9dp, renormalized) -> KL vs the corpus unigram model in bits; and the
    focused query must out-score the background-noise query."""
    import math
    from collections import Counter

    from defactonlp_spark.functions.tokenize import tokenize_one
    from defactonlp_spark.operators.expansion import clarity_score
    from defactonlp_spark.operators.lm import ctf_stats
    from tests.oracle_bm25 import bm25_topk_oracle, build_oracle_index

    texts = {
        0: "quantum entanglement experiment measures photon spin states",
        1: "quantum computing qubits exploit entanglement and superposition",
        2: "photon detectors record entanglement correlations in the lab",
        3: "the cat sat on the mat and the dog sat too",
        4: "a dog and a cat and a mat and a hat",
        5: "general filler text about many common everyday things",
        6: "more filler text with common words about things and stuff",
    }
    claims = {0: "quantum entanglement", 1: "the and a"}
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    p = P.build_postings(docs).persist()
    cs = P.corpus_stats(p).collect()[0]
    n_docs, avgdl, total = int(cs["n_docs"]), float(cs["avgdl"]), int(cs["total_tokens"])
    cdf = spark.createDataFrame(list(claims.items()), "claim_id long, claim string")
    got = {
        r["claim_id"]: (r["n_terms"], r["clarity"])
        for r in clarity_score(
            p, P.term_stats(p), ctf_stats(p), claim_terms(cdf),
            n_docs, avgdl, total, fb_docs=3, fb_terms=8,
        ).collect()
    }
    p.unpersist()

    # scalar replay
    postings, dl, n, avg = build_oracle_index(texts)
    ctf = {t: sum(pl.values()) for t, pl in postings.items()}
    T = float(sum(dl.values()))
    fb = bm25_topk_oracle(texts, claims, k=3)
    want = {}
    for cid, docs_scores in fb.items():
        # rank_dp=6 replay: same docs (no ties in this fixture)
        ssum = sum(s for _, s in docs_scores)
        rm = Counter()
        for d, s in docs_scores:
            p_d = s / ssum
            toks = Counter(tokenize_one(texts[d]))
            for t, c in toks.items():
                rm[t] += c / dl[d] * p_d
        rm = {t: round(v, 9) for t, v in rm.items()}
        kept = sorted(rm.items(), key=lambda kv: (-kv[1], kv[0]))[:8]
        ksum = sum(v for _, v in kept)
        lm = {t: round(v / ksum, 9) for t, v in kept}
        kl = sum(
            w * math.log(w / (ctf[t] / T)) * 1.4426950408889634
            for t, w in lm.items() if w > 0
        )
        want[cid] = (len([w for w in lm.values() if w > 0]), round(kl, 6))
    assert got.keys() == want.keys()
    for cid in want:
        assert got[cid][0] == want[cid][0]
        assert got[cid][1] == pytest.approx(want[cid][1], abs=2e-6)
    # the focused query is clearer than the stopword-ish one
    assert got[0][1] > got[1][1]
