"""The load-bearing guarantee (BASELINE.json:6): block-max WAND top-k is
rank-identical — docIDs AND bit-equal float64 scores — to exhaustive BM25,
for every fixture claim. Dual oracle: WAND vs pure-numpy, and the Spark
exhaustive DataFrame path vs pure-numpy (tolerance-equal; Spark sum order is
not pinned, WAND + numpy both sum in ascending term order)."""

import math
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from defactonlp_spark.config import EngineConfig
from defactonlp_spark.plans.build import IndexBuild, IndexReader, prepare_webpages
from defactonlp_spark.plans.query import query_exhaustive, query_wand
from defactonlp_spark.sources.fixtures import gen_claims, gen_webpages
from tests.oracle_bm25 import bm25_topk_oracle

K = 5


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    pages = spark.createDataFrame(gen_webpages(n=600, seed=42))
    corpus = prepare_webpages(pages)
    cfg = EngineConfig(n_buckets=8)
    props = IndexBuild(out, cfg, build_id="parity", store_tokens=True).run(
        spark, corpus, input_snapshot="fixture:600"
    )
    reader = IndexReader(spark, out)
    texts = {r["doc_id"]: r["text"] for r in corpus.select("doc_id", "text").collect()}
    return reader, texts, cfg


@pytest.fixture(scope="module")
def claims_pdf():
    return gen_claims(n=120)


def test_wand_bitexact_vs_numpy_oracle(spark, built, claims_pdf):
    reader, texts, cfg = built
    claims = spark.createDataFrame(claims_pdf[["claim_id", "claim"]])
    got = query_wand(reader, claims, k=K, cfg=cfg).toPandas()
    oracle = bm25_topk_oracle(
        texts,
        dict(zip(claims_pdf["claim_id"], claims_pdf["claim"])),
        k=K,
        avgdl_override=reader.avgdl,
        n_override=reader.n_docs,
    )
    got_by_claim = {
        cid: [(int(r.doc_id), float(r.score)) for r in g.sort_values("rank").itertuples()]
        for cid, g in got.groupby("claim_id")
    }
    checked = 0
    for cid, expect in oracle.items():
        mine = got_by_claim.get(cid, [])
        assert [d for d, _ in mine] == [d for d, _ in expect], f"claim {cid} doc order"
        for (d1, s1), (d2, s2) in zip(mine, expect):
            assert s1 == s2, f"claim {cid} doc {d1}: {s1!r} != {s2!r} (bit-exact required)"
            checked += 1
    assert checked > 100  # the fixture produces plenty of non-empty claims


def test_exhaustive_spark_matches_oracle(spark, built, claims_pdf):
    reader, texts, cfg = built
    sub = claims_pdf.iloc[:40]
    claims = spark.createDataFrame(sub[["claim_id", "claim"]])
    got = query_exhaustive(reader, claims, k=K, cfg=cfg).toPandas()
    oracle = bm25_topk_oracle(
        texts, dict(zip(sub["claim_id"], sub["claim"])), k=K,
        avgdl_override=reader.avgdl, n_override=reader.n_docs,
    )
    for cid, g in got.groupby("claim_id"):
        mine = [(int(r.doc_id), float(r.score)) for r in g.sort_values("rank").itertuples()]
        expect = oracle[cid]
        assert [d for d, _ in mine] == [d for d, _ in expect]
        for (_, s1), (_, s2) in zip(mine, expect):
            assert math.isclose(s1, s2, rel_tol=1e-12, abs_tol=1e-12)


def test_wand_vs_exhaustive_spark_ids(spark, built, claims_pdf):
    reader, _, cfg = built
    sub = claims_pdf.iloc[40:80]
    claims = spark.createDataFrame(sub[["claim_id", "claim"]])
    w = query_wand(reader, claims, k=K, cfg=cfg).toPandas().sort_values(["claim_id", "rank"])
    e = query_exhaustive(reader, claims, k=K, cfg=cfg).toPandas().sort_values(["claim_id", "rank"])
    assert list(w["claim_id"]) == list(e["claim_id"])
    assert list(w["doc_id"]) == list(e["doc_id"])


def test_oov_claim_returns_empty(spark, built):
    reader, _, cfg = built
    claims = spark.createDataFrame([(999, "zzzqqq xxyyzz")], "claim_id long, claim string")
    assert query_wand(reader, claims, k=K, cfg=cfg).count() == 0


def test_many_claims_distributed_planner(spark, built):
    """The serving plan must scale in |claims| with no driver-side claim
    map: 20k claims run through the distributed batch planner (the only
    driver materialization allowed is the vocabulary-bounded distinct-term
    list). Spot-parity: 15 of the claims duplicate the bit-exact fixture
    set and must rank identically to the exhaustive path."""
    import pandas as pd

    reader, _, cfg = built
    base = gen_claims(n=20000)
    claims = spark.createDataFrame(base[["claim_id", "claim"]])
    got = query_wand(reader, claims, k=K, cfg=cfg).toPandas()
    assert got.claim_id.nunique() > 15000  # most claims hit the corpus
    assert (got.groupby("claim_id")["rank"].max() <= K).all()

    sub = base.iloc[:15]
    sub_claims = spark.createDataFrame(sub[["claim_id", "claim"]])
    e = query_exhaustive(reader, sub_claims, k=K, cfg=cfg).toPandas()
    m = got[got.claim_id.isin(set(sub.claim_id))]
    merged = m.merge(e, on=["claim_id", "rank"], suffixes=("_w", "_e"))
    assert len(merged) == len(e)
    assert (merged.doc_id_w == merged.doc_id_e).all()


@pytest.mark.parametrize("query", ["query_wand", "query_exhaustive", "query_phrase"])
def test_semi_join_term_pruning_path(spark, built, claims_pdf, query):
    """Force the semi-join pruning branch (isin_pushdown_max_terms=0) and
    require byte-identical results to the isin fast path, and the index
    scan pruned by a LeftSemi join on (bucket, term): every query path
    honours the bound."""
    import dataclasses
    import io
    import re
    from contextlib import redirect_stdout

    from defactonlp_spark.plans import query as Q

    reader, _, cfg = built
    pdf = claims_pdf[["claim_id", "claim"]].head(30)
    if query == "query_phrase":  # the claims' first two words as phrases
        pdf = pd.DataFrame({"claim_id": pdf["claim_id"],
                            "phrase": pdf["claim"].str.split().str[:2].str.join(" ")})
    claims = spark.createDataFrame(pdf)
    run = getattr(Q, query)
    semi = run(reader, claims, k=K, cfg=dataclasses.replace(cfg, isin_pushdown_max_terms=0))
    buf = io.StringIO()
    with redirect_stdout(buf):
        semi.explain("formatted")
    assert re.search(r"Left keys \[2\]: \[bucket#\d+, term#\d+\]\n"
                     r"Right keys \[2\]: \[bucket#\d+, term#\d+\]\nJoin type: LeftSemi",
                     buf.getvalue())
    a = (
        run(reader, claims, k=K, cfg=cfg).toPandas()
        .sort_values(["claim_id", "rank"]).reset_index(drop=True)
    )
    b = semi.toPandas().sort_values(["claim_id", "rank"]).reset_index(drop=True)
    assert len(a) > 0 and len(a) == len(b)
    assert (a["claim_id"] == b["claim_id"]).all()
    assert (a["doc_id"] == b["doc_id"]).all()
    assert all(x == y for x, y in zip(a["score"], b["score"]))


def test_dense_kernel_bitexact_vs_cursor_kernel(spark, built, claims_pdf):
    """The per-claim planner picks between the vectorized dense kernel and
    the WAND cursor kernel on slice volume; both must be bit-identical.
    Force each side via dense_eval_threshold = huge / 0."""
    import dataclasses

    reader, _, cfg = built
    claims = spark.createDataFrame(claims_pdf[["claim_id", "claim"]].head(40))
    dense_cfg = dataclasses.replace(cfg, dense_eval_threshold=10**12)
    cursor_cfg = dataclasses.replace(cfg, dense_eval_threshold=0)
    a = (
        query_wand(reader, claims, k=K, cfg=dense_cfg).toPandas()
        .sort_values(["claim_id", "rank"]).reset_index(drop=True)
    )
    b = (
        query_wand(reader, claims, k=K, cfg=cursor_cfg).toPandas()
        .sort_values(["claim_id", "rank"]).reset_index(drop=True)
    )
    assert (a["claim_id"] == b["claim_id"]).all()
    assert (a["doc_id"] == b["doc_id"]).all()
    assert all(x == y for x, y in zip(a["score"], b["score"])), "scores must be bit-equal"


def test_conjunctive_matches_filtered_exhaustive(spark, built, claims_pdf):
    """query_conjunctive == (exhaustive ranking at k=corpus, filtered to
    docs containing ALL claim terms, re-ranked, cut at K): same docs in the
    same order with identical scores — and every returned doc really does
    contain every claim term (checked against the raw texts)."""
    from defactonlp_spark.functions.tokenize import tokenize_one
    from defactonlp_spark.plans.query import query_conjunctive

    reader, texts, cfg = built
    pdf = claims_pdf.head(40)
    claims = spark.createDataFrame(pdf[["claim_id", "claim"]])
    conj = query_conjunctive(reader, claims, k=K, cfg=cfg).toPandas()
    exh = query_exhaustive(reader, claims, k=len(texts), cfg=cfg).toPandas()

    doc_terms = {d: set(tokenize_one(t)) for d, t in texts.items()}
    qterms = {int(r.claim_id): set(tokenize_one(r.claim)) for r in pdf.itertuples()}

    # containment: every conjunctive hit has every claim term
    for r in conj.itertuples():
        assert qterms[int(r.claim_id)] <= doc_terms[int(r.doc_id)], (
            f"claim {r.claim_id} doc {r.doc_id} missing terms"
        )

    # equivalence to the filtered exhaustive ranking, scores bit-equal
    exh_scores = {(int(r.claim_id), int(r.doc_id)): float(r.score) for r in exh.itertuples()}
    for cid, q in qterms.items():
        expect = sorted(
            (
                (-exh_scores[(cid, d)], d)
                for d, ts in doc_terms.items()
                if q <= ts and (cid, d) in exh_scores
            ),
        )[:K]
        mine = conj[conj.claim_id == cid].sort_values("rank")
        assert [int(x) for x in mine.doc_id] == [d for _, d in expect], f"claim {cid}"
        assert [float(x) for x in mine.score] == [-s for s, _ in expect], f"claim {cid} scores"


def test_conjunctive_oov_term_returns_nothing(spark, built):
    """A claim containing any out-of-corpus term must match no docs."""
    from defactonlp_spark.plans.query import query_conjunctive

    reader, texts, cfg = built
    some_text = next(iter(texts.values()))
    known = some_text.split()[0].lower()
    claims = spark.createDataFrame(
        [(1, f"{known} zzzzunseenwordzzzz")], "claim_id long, claim string"
    )
    assert query_conjunctive(reader, claims, k=K, cfg=cfg).count() == 0
