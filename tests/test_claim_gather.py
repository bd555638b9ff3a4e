"""The claim side of WAND serving rides the gathered slices
(``operators/wand.py::wand_topk``).

Every gathered slice row carries its kernel group ``grp`` and the ``claims``
of that group whose terms include the slice's term, so the kernel reads one
relation. The rows come from one of two forms:

- literal: a local batch with at most ``CLAIM_MAP_MAX_PAIRS`` (and at most
  ``isin_pushdown_max_terms``) distinct (claim, term) pairs maps term ->
  [(grp, claims)] in one folded map literal, exploded with ``inline`` over
  the pruned scan;
- join: any other batch joins a (term, grp, claims) relation on ``term``.

Pinned here:

1. jobs: at most 2 for a 64-claim ``query_wand`` batch and for a warm
   256-claim ``topk`` batch; none before the action for
   ``query_exhaustive`` of a local batch; tombstones add none;
2. the literal form, the join form with an ``IN``-list scan and the join
   form with the term semi-join return bit-identical rows through
   ``query_wand`` and warm ``topk`` — tombstones, OOV and all-OOV
   batches, duplicate claim ids and non-ASCII text included;
3. terms holding quotes, a backslash, a newline and non-ASCII letters
   survive the literal's escaping;
4. a local batch past ``CLAIM_MAP_MAX_PAIRS`` takes the join form, with the
   same rows as the literal form.
"""

import io
import shutil
import uuid
from contextlib import redirect_stdout
from dataclasses import replace

import pandas as pd
import pyarrow as pa
import pytest

from defactonlp_spark.config import EngineConfig
from defactonlp_spark.operators.bm25 import claim_terms
from defactonlp_spark.operators.postings import term_stats
from defactonlp_spark.operators.segments import encode_segments
from defactonlp_spark.operators import wand
from defactonlp_spark.operators.wand import wand_topk
from defactonlp_spark.plans.build import IndexBuild, IndexReader, delete_docs, prepare_webpages
from defactonlp_spark.plans.query import ServingSession, query_exhaustive, query_wand
from defactonlp_spark.sources.fixtures import gen_claims, gen_webpages

K = 5
CFG = EngineConfig(n_buckets=8)

#: OOV tokens, duplicate claim ids (term sets merge), empty and
#: punctuation-only claims, non-ASCII text
EXTRA = [
    (1000, "merge qqnotaword join"),
    (1001, "window batch"),
    (1001, "stream TABLE"),
    (1002, ""),
    (1003, "!!! ... ---"),
    (1004, "CAFÉ naïve"),
    (1005, "ΣIGMA Über 漢字"),
    (1006, "Touché RÉSUMÉ merge"),
]
#: OOV only; a token shared by two claims makes pairs outnumber terms
ALL_OOV = [(0, "qqzzy qqzzx"), (1, "unseenwordalpha qqzzy"), (2, "")]


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


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _literal_form(plan: str) -> bool:
    """Whether the gather explodes a folded map literal. ``from_json`` left
    in the plan would mean the literal was not folded and every scanned row
    re-parses the claim JSON."""
    assert "from_json" not in plan
    return "inline(element_at(map(keys: [" in plan


def _rows(df) -> pd.DataFrame:
    return df.toPandas().sort_values(["claim_id", "rank"]).reset_index(drop=True)


def _pdf(rows) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=["claim_id", "claim"])


@pytest.fixture(scope="module")
def readers(spark, tmp_path_factory):
    """(index without tombstones, the same index with 2 tombstones)."""
    out = str(tmp_path_factory.mktemp("gather_idx"))
    pages = spark.createDataFrame(gen_webpages(n=400, seed=31))
    IndexBuild(out, CFG, build_id="gather").run(
        spark, prepare_webpages(pages), input_snapshot="fixture:400"
    )
    clean = IndexReader(spark, out)
    # the copy's snapshots name the original's data files, so both readers
    # scan the same segments; only the copy gets a deletes table. The two
    # tombstones are the top hits of two claims, so masking changes results.
    dead_dir = str(tmp_path_factory.mktemp("gather_idx_dead") / "idx")
    shutil.copytree(out, dead_dir)
    top = _rows(query_wand(clean, spark.createDataFrame(gen_claims(n=40)[["claim_id", "claim"]]),
                           k=K, cfg=CFG))
    dead = top[top["rank"] == 1]["doc_id"].drop_duplicates().head(2).tolist()
    assert len(dead) == 2
    delete_docs(spark, dead_dir, dead)
    return clean, IndexReader(spark, dead_dir)


def _forms(spark, rows) -> dict:
    """Configs selecting each gather form for this batch: the literal, the
    join with the IN-list scan, and the join with the term semi-join."""
    pairs = claim_terms(spark.createDataFrame(_pdf(rows))).collect()
    n_pairs, n_terms = len(pairs), len({r["term"] for r in pairs})
    assert n_terms < n_pairs
    return {
        "literal": replace(CFG, isin_pushdown_max_terms=n_pairs),
        "join": replace(CFG, isin_pushdown_max_terms=n_terms),
        "semi_join": replace(CFG, isin_pushdown_max_terms=n_terms - 1),
    }


def test_query_wand_local_batch_runs_at_most_2_jobs(spark, readers):
    clean, _ = readers
    pdf = gen_claims(n=200)[["claim_id", "claim"]]
    query_wand(clean, spark.createDataFrame(pdf.iloc[64:72]), k=K, cfg=CFG).toPandas()
    claims = spark.createDataFrame(pdf.iloc[:64])
    res, n_jobs = _jobs(spark, lambda: query_wand(clean, claims, k=K, cfg=CFG).toPandas())
    assert res["claim_id"].nunique() > 30
    assert n_jobs <= 2


def test_warm_topk_local_batch_runs_at_most_2_jobs(spark, readers):
    session = ServingSession(readers[0], CFG)
    session.warm()
    try:
        pdf = gen_claims(n=300)[["claim_id", "claim"]]
        session.topk(spark.createDataFrame(pdf.iloc[256:]), k=K).toPandas()
        claims = spark.createDataFrame(pdf.iloc[:256])
        res, n_jobs = _jobs(spark, lambda: session.topk(claims, k=K).toPandas())
    finally:
        session.close()
    assert res["claim_id"].nunique() > 100
    assert n_jobs <= 2


def test_query_exhaustive_of_a_local_batch_plans_without_jobs(spark, readers):
    claims = spark.createDataFrame(gen_claims(n=64)[["claim_id", "claim"]])
    res, n_jobs = _jobs(spark, lambda: query_exhaustive(readers[0], claims, k=K, cfg=CFG))
    assert n_jobs == 0
    assert res.count() > 0


def test_tombstones_add_no_jobs(spark, readers):
    clean, dead = readers
    assert dead.deletes_array() is not None and dead.deletes_array().size == 2
    pdf = gen_claims(n=200)[["claim_id", "claim"]]
    n_jobs = {}
    for name, reader in (("clean", clean), ("dead", dead)):
        query_wand(reader, spark.createDataFrame(pdf.iloc[64:72]), k=K, cfg=CFG).toPandas()
        claims = spark.createDataFrame(pdf.iloc[:64])
        _, n_jobs[name] = _jobs(spark, lambda: query_wand(reader, claims, k=K, cfg=CFG).toPandas())
    assert n_jobs["dead"] <= n_jobs["clean"]


@pytest.mark.parametrize("path", ["query_wand", "warm_topk"])
def test_literal_and_join_forms_return_identical_rows(spark, readers, path):
    _, reader = readers
    deletes = reader.deletes_array()
    mixed = list(gen_claims(n=40)[["claim_id", "claim"]].itertuples(index=False, name=None)) + EXTRA
    for rows in (mixed, ALL_OOV):
        got = {}
        for form, cfg in _forms(spark, rows).items():
            claims = spark.createDataFrame(_pdf(rows))
            assert claims.isLocal()
            if path == "query_wand":
                res = query_wand(reader, claims, k=K, cfg=cfg)
            else:
                session = ServingSession(reader, cfg)
                session.warm()
                res = session.topk(claims, k=K)
            plan = _plan(res)
            if rows is mixed:
                assert _literal_form(plan) == (form == "literal"), form
            got[form] = _rows(res)
            if path == "warm_topk":
                session.close()
        base = got.pop("literal")
        if rows is mixed:
            assert {1000, 1001, 1004, 1005, 1006} <= set(base["claim_id"])
            assert not {1002, 1003} & set(base["claim_id"])
            assert not set(base["doc_id"]) & set(deletes.tolist())
        else:
            assert base.empty
        for form, df in got.items():
            pd.testing.assert_frame_equal(df, base, check_exact=True, obj=f"{path} {form}")


#: terms no tokenizer emits: every character the literal must escape
ODD_TERMS = ['say"hi', "it's", "back\\slash", "new\nline", "naïve", "ελλάδα", "漢字",
             "'\"\\", '{"grp": 1}', "plain"]


def test_literal_escaping_of_hand_made_terms(spark):
    n_docs = 24
    postings = spark.createDataFrame(
        [(t, d, 1 + (d * (i + 3)) % 4, 10 + d % 5)
         for i, t in enumerate(ODD_TERMS) for d in range(n_docs) if (d + i) % 3],
        "term string, doc_id long, tf int, dl int",
    )
    stats = term_stats(postings)
    avgdl = 12.0
    seg = encode_segments(postings, stats, n_docs, avgdl, CFG, 2).persist()
    qrows = [(c, t) for c in range(6) for t in ODD_TERMS[c::2]] + [(9, "unseen'term")]
    qterms = spark.createDataFrame(
        pa.table({"claim_id": pa.array([c for c, _ in qrows], pa.int64()),
                  "term": pa.array([t for _, t in qrows], pa.string())}),
        "claim_id long, term string",
    )
    assert qterms.isLocal()
    n_pairs = len(qrows)
    got = {}
    for form, bound in (("literal", n_pairs), ("join", n_pairs - 1), ("semi_join", 0)):
        res = wand_topk(seg, qterms, n_docs, avgdl, k=K, cfg=replace(CFG, isin_pushdown_max_terms=bound))
        assert _literal_form(_plan(res)) == (form == "literal"), form
        got[form] = _rows(res)
    distributed = spark.createDataFrame(qrows, "claim_id long, term string")
    got["distributed"] = _rows(wand_topk(seg, distributed, n_docs, avgdl, k=K, cfg=CFG))
    seg.unpersist()
    base = got.pop("literal")
    assert set(base["claim_id"]) == set(range(6))
    assert (base.groupby("claim_id").size() == K).all()
    for form, df in got.items():
        pd.testing.assert_frame_equal(df, base, check_exact=True, obj=form)


def test_local_batch_past_the_literal_bound_takes_the_join_form(spark, readers, monkeypatch):
    _, reader = readers
    pdf = gen_claims(n=900)[["claim_id", "claim"]]
    n_pairs = claim_terms(spark.createDataFrame(pdf)).count()
    assert wand.CLAIM_MAP_MAX_PAIRS < n_pairs <= CFG.isin_pushdown_max_terms
    got = {}
    for form, bound in (("join", wand.CLAIM_MAP_MAX_PAIRS), ("literal", n_pairs)):
        monkeypatch.setattr(wand, "CLAIM_MAP_MAX_PAIRS", bound)
        res = query_wand(reader, spark.createDataFrame(pdf), k=K, cfg=CFG)
        assert _literal_form(_plan(res)) == (form == "literal"), form
        got[form] = _rows(res)
    assert got["literal"]["claim_id"].nunique() > 400
    pd.testing.assert_frame_equal(got["join"], got["literal"], check_exact=True)
