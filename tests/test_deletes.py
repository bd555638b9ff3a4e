"""Delete tombstones — the Lucene-style live-docs lifecycle over the index.

Contracts pinned here:

1. Serving visibility: after ``delete_docs``, every query path
   (``query_wand``, ``query_exhaustive``, ``query_conjunctive``,
   ``ServingSession``) stops returning the tombstoned docs IMMEDIATELY,
   while scoring keeps the STORED df / N / avgdl (bounds stay sound upper
   bounds, WAND/exhaustive parity survives). Oracle: the corpus postings
   with deleted docs dropped, scored with the stored stats.
2. Fully-deleted blocks: a contiguous id-range delete empties whole
   posting-list blocks, exercising the cursor skip-forward paths
   (_load_block while-loop, advance_to past a deleted block boundary).
3. Compaction: ``merge_builds(apply_deletes=True)`` physically drops the
   postings and recomputes EXACT live stats — the compacted index scores
   identically to a fresh build over the surviving corpus (oracle: live
   postings scored with live df / N / avgdl).
4. Lifecycle hygiene: re-deleting / deleting unknown ids is harmless;
   ``deletes_array``'s serving cap raises past ``max_serving_deletes``.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from defactonlp_spark.config import EngineConfig
from defactonlp_spark.functions.tokenize import tokenize_postings_html
from defactonlp_spark.operators.bm25 import (
    claim_terms,
    score_conjunctive,
    score_exhaustive,
)
from defactonlp_spark.plans.build import (
    IndexBuild,
    IndexReader,
    delete_docs,
    merge_builds,
    prepare_webpages_fused,
)
from defactonlp_spark.plans.query import (
    ServingSession,
    query_conjunctive,
    query_exhaustive,
    query_wand,
)
from defactonlp_spark.sources.fixtures import gen_claims, gen_webpages

# small blocks so a contiguous delete empties WHOLE blocks of head terms
CFG = EngineConfig(n_buckets=4, block_size=8)


def _build(spark, tmp_path, name="idx", n=300, seed=11):
    pages = spark.createDataFrame(gen_webpages(n=n, seed=seed, start=0))
    corpus = prepare_webpages_fused(pages, n_parts=8)
    d = str(tmp_path / name)
    props = IndexBuild(d, CFG, build_id=name, n_groups=1).run(
        spark, corpus, input_snapshot=name
    )
    # the oracle's postings: same fused id assignment as the build
    pl = tokenize_postings_html(corpus)
    return d, props, pl


def _sorted_pdf(df):
    return (
        df.toPandas()
        .sort_values(["claim_id", "rank"])
        .reset_index(drop=True)
    )


def _oracle(pl_live, stats, qterms, n_docs, avgdl, k=5):
    return _sorted_pdf(
        score_exhaustive(pl_live, stats, qterms, n_docs, avgdl, k=k, params=CFG.bm25)
    )


def test_serving_masks_tombstones_with_parity(spark, tmp_path):
    d, props, pl = _build(spark, tmp_path)
    claims = spark.createDataFrame(gen_claims(12)[["claim_id", "claim"]])

    base = _sorted_pdf(query_wand(IndexReader(spark, d), claims, k=5, cfg=CFG))

    # delete every baseline winner (forces new top-1s), a contiguous id
    # range (empties whole blocks at block_size=8 — cursor skip paths),
    # and an id the corpus never had (must be harmless)
    winners = set(base.loc[base["rank"] == 1, "doc_id"].astype(int))
    dead = sorted(winners | set(range(0, 60)) | {10**12})
    delete_docs(spark, d, dead, note="test")
    delete_docs(spark, d, list(winners))  # idempotent re-delete

    r = IndexReader(spark, d)
    w = _sorted_pdf(query_wand(r, claims, k=5, cfg=CFG))
    e = _sorted_pdf(query_exhaustive(r, claims, k=5, cfg=CFG))
    c = _sorted_pdf(query_conjunctive(r, claims, k=5, cfg=CFG))

    dead_set = set(dead)
    for res in (w, e, c):
        assert len(res) > 0
        assert not set(res["doc_id"].astype(int)) & dead_set
    assert set(base.loc[base["rank"] == 1, "doc_id"].astype(int)).isdisjoint(
        set(w.loc[w["rank"] == 1, "doc_id"].astype(int))
    )

    # WAND/exhaustive parity survives deletes (both score with stored stats)
    assert (w["doc_id"] == e["doc_id"]).all()
    assert np.allclose(w["score"], e["score"], rtol=0, atol=1e-12)

    # ServingSession applies its open-time tombstone snapshot
    sess = ServingSession(r, CFG, persist=False)
    s = _sorted_pdf(sess.topk(claims, k=5))
    sess.close()
    assert (s["doc_id"] == w["doc_id"]).all()
    assert np.allclose(s["score"], w["score"], rtol=0, atol=1e-12)

    # oracle: live postings, STORED stats (df over the FULL corpus)
    qterms = claim_terms(claims)
    stats_stored = pl.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    pl_live = pl.filter(~F.col("doc_id").isin(dead))
    o = _oracle(pl_live, stats_stored, qterms, props["n_docs"], props["avgdl"])
    assert (w["doc_id"] == o["doc_id"]).all()
    assert np.allclose(w["score"], o["score"], rtol=0, atol=1e-12)

    # conjunctive path: same masking + stored stats, its own scorer oracle
    oc = _sorted_pdf(
        score_conjunctive(
            pl_live, stats_stored, qterms, props["n_docs"], props["avgdl"],
            k=5, params=CFG.bm25,
        )
    )
    assert (c["doc_id"] == oc["doc_id"]).all()
    assert np.allclose(c["score"], oc["score"], rtol=0, atol=1e-12)


def test_compaction_equals_fresh_build_over_survivors(spark, tmp_path):
    d, props, pl = _build(spark, tmp_path, name="src", n=250, seed=13)
    claims = spark.createDataFrame(gen_claims(10)[["claim_id", "claim"]])

    dead = list(range(0, 40)) + [123, 200]
    delete_docs(spark, d, dead)

    dst = str(tmp_path / "compacted")
    mprops = merge_builds(spark, [d], dst, CFG)

    pl_live = pl.filter(~F.col("doc_id").isin(dead))
    crow = (
        pl_live.groupBy("doc_id").agg(F.first("dl").alias("dl"))
        .agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
        .collect()[0]
    )
    n_live, avgdl_live = int(crow["n"]), float(crow["avgdl"])
    assert mprops["n_docs"] == n_live < props["n_docs"]
    assert mprops["n_deleted"] == props["n_docs"] - n_live
    assert abs(mprops["avgdl"] - avgdl_live) < 1e-9

    rm = IndexReader(spark, dst)
    assert rm.deletes_df() is None  # tombstones are GONE, not carried over
    w = _sorted_pdf(query_wand(rm, claims, k=5, cfg=CFG))
    e = _sorted_pdf(query_exhaustive(rm, claims, k=5, cfg=CFG))
    assert not set(w["doc_id"].astype(int)) & set(dead)
    assert (w["doc_id"] == e["doc_id"]).all()
    assert np.allclose(w["score"], e["score"], rtol=0, atol=1e-12)

    # == fresh build over survivors: LIVE stats end to end
    stats_live = pl_live.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    o = _oracle(pl_live, stats_live, claim_terms(claims), n_live, avgdl_live)
    assert (w["doc_id"] == o["doc_id"]).all()
    assert np.allclose(w["score"], o["score"], rtol=0, atol=1e-12)


def test_deletes_array_cap_and_distinct(spark, tmp_path):
    d, _, _ = _build(spark, tmp_path, name="cap", n=60, seed=17)
    delete_docs(spark, d, [1, 2, 3])
    delete_docs(spark, d, [3, 4])  # overlap: distinct on read
    r = IndexReader(spark, d)
    arr = r.deletes_array()
    assert arr.tolist() == [1, 2, 3, 4]
    assert r.deletes_df().count() == 4
    with pytest.raises(ValueError, match="compact"):
        r.deletes_array(max_rows=2)
