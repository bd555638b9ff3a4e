"""B5 merge: k-way merge of segment generations == single-shot build."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from defactonlp_spark.config import EngineConfig
from defactonlp_spark.operators import postings as P
from defactonlp_spark.operators.segments import decode_slice, encode_segments, merge_segments
from defactonlp_spark.sources.fixtures import gen_webpages

CFG = EngineConfig(n_buckets=4)


def _segments_for(spark, pdf, n_docs, avgdl):
    df = spark.createDataFrame(pdf[["doc_id", "text"]])
    postings = P.build_postings(df)
    stats = P.term_stats(postings)
    return encode_segments(postings, stats, n_docs, avgdl, CFG, n_partitions=4)


def test_merge_equals_single_shot(spark):
    pdf = gen_webpages(n=200, seed=5, dup_frac=0.0)
    pdf["doc_id"] = range(len(pdf))

    # global stats fixed across generations (the merge contract: one corpus)
    from defactonlp_spark.functions.tokenize import tokenize_one

    dls = [len(tokenize_one(t)) for t in pdf["text"]]
    n_docs, avgdl = len(pdf), float(np.mean(dls))

    single = _segments_for(spark, pdf, n_docs, avgdl).toPandas()

    gen_a = _segments_for(spark, pdf.iloc[:90], n_docs, avgdl)
    gen_b = _segments_for(spark, pdf.iloc[90:], n_docs, avgdl)
    # salt depends on full-corpus df; halves may salt differently — that's
    # exactly what merge must reconcile: re-salt to salt 0 for comparison
    merged = merge_segments(gen_a.unionByName(gen_b), n_docs, avgdl, CFG).toPandas()

    def flat(seg_pdf):
        out = {}
        for _, row in seg_pdf.iterrows():
            ids, tfs, dls_ = decode_slice(row)
            for i in range(len(ids)):
                out[(row["term"], int(ids[i]))] = (int(tfs[i]), int(dls_[i]))
        return out

    f_single, f_merged = flat(single), flat(merged)
    assert f_single == f_merged

    # df on every slice equals the full-term posting count
    tdf = merged.groupby("term")["n"].sum()
    for _, row in merged.iterrows():
        assert row["df"] == tdf[row["term"]]

    # block maxima recomputed exactly: spot-check vs fresh encode
    sm = {(r["term"], r["salt"]): r for _, r in single.iterrows()}
    hits = 0
    for _, row in merged.iterrows():
        key = (row["term"], row["salt"])
        if key in sm and sm[key]["n"] == row["n"]:
            exp = [b["max_score"] for b in sm[key]["blockmax"]]
            got = [b["max_score"] for b in row["blockmax"]]
            assert got == exp
            hits += 1
    assert hits > 0


def test_merge_rejects_overlapping_docsets(spark, tmp_path):
    """Two generations sharing doc ids fail the merge, with or without
    tombstones (a tombstone routes it through decode -> re-encode), and a
    failed merge leaves no cached postings behind."""
    from defactonlp_spark.plans.build import (
        IndexBuild,
        delete_docs,
        merge_builds,
        prepare_webpages_fused,
    )

    pages = spark.createDataFrame(gen_webpages(n=30, seed=6, dup_frac=0.0))
    dirs = [str(tmp_path / g) for g in ("a", "b")]
    for d in dirs:  # same pages, same id_offset: every doc id repeats
        IndexBuild(d, CFG, build_id="g", n_groups=1).run(
            spark, prepare_webpages_fused(pages, n_parts=4), input_snapshot="g")
    cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(Exception, match="duplicate doc_id"):
        merge_builds(spark, dirs, str(tmp_path / "m"), CFG)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached
    delete_docs(spark, dirs[1], [-7])  # a tombstone no generation holds
    with pytest.raises(Exception, match="duplicate doc_id"):
        merge_builds(spark, dirs, str(tmp_path / "m_del"), CFG)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached


def test_merge_builds_two_generations(spark, tmp_path):
    """B5 end to end through the PLAN layer: two id-disjoint generation
    builds (initial + incremental append via id_offset) -> merge_builds ->
    the merged index serves queries identical to an exhaustive BM25 oracle
    computed from the union of the generations' postings."""
    from defactonlp_spark.operators.bm25 import claim_terms, score_exhaustive
    from defactonlp_spark.plans.build import (
        IndexBuild,
        IndexReader,
        merge_builds,
        prepare_webpages_fused,
    )
    from defactonlp_spark.plans.query import query_exhaustive, query_wand
    from defactonlp_spark.sources.fixtures import gen_claims, gen_webpages

    cfg = EngineConfig(n_buckets=4)
    pages_a = spark.createDataFrame(gen_webpages(n=300, seed=7, start=0))
    pages_b = spark.createDataFrame(gen_webpages(n=200, seed=8, start=300))
    d_a, d_b, d_m = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "m")
    OFF = 1 << 50
    pa_ = IndexBuild(d_a, cfg, build_id="ga", n_groups=1, id_offset=0).run(
        spark, prepare_webpages_fused(pages_a, n_parts=8), input_snapshot="ga")
    pb_ = IndexBuild(d_b, cfg, build_id="gb", n_groups=1, id_offset=OFF).run(
        spark, prepare_webpages_fused(pages_b, n_parts=8), input_snapshot="gb")

    props = merge_builds(spark, [d_a, d_b], d_m, cfg)
    assert props["n_docs"] == pa_["n_docs"] + pb_["n_docs"]

    r = IndexReader(spark, d_m)
    claims = spark.createDataFrame(gen_claims(15)[["claim_id", "claim"]])
    w = query_wand(r, claims, k=5, cfg=cfg).toPandas().sort_values(
        ["claim_id", "rank"]).reset_index(drop=True)
    e = query_exhaustive(r, claims, k=5, cfg=cfg).toPandas().sort_values(
        ["claim_id", "rank"]).reset_index(drop=True)
    assert (w["doc_id"] == e["doc_id"]).all()
    # exhaustive's hash-agg sums in arrival order (unpinned), so the
    # cross-path contract is rank identity + fp-tolerance on scores
    assert np.allclose(w["score"], e["score"], rtol=0, atol=1e-12)

    # independent oracle: postings re-derived from the corpora (same fused
    # id assignment incl. offset), scored exhaustively — never touches the
    # segment/merge machinery
    from defactonlp_spark.functions.tokenize import tokenize_postings_html

    pl = tokenize_postings_html(
        prepare_webpages_fused(pages_a, n_parts=8), id_offset=0
    ).unionByName(tokenize_postings_html(
        prepare_webpages_fused(pages_b, n_parts=8), id_offset=OFF
    ))
    stats = pl.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    oracle = score_exhaustive(
        pl, stats, claim_terms(claims), props["n_docs"], props["avgdl"], k=5,
        params=cfg.bm25,
    ).toPandas().sort_values(["claim_id", "rank"]).reset_index(drop=True)
    assert (w["doc_id"] == oracle["doc_id"]).all()
    assert np.allclose(w["score"], oracle["score"], rtol=0, atol=1e-12)


def test_plan_compaction_policy():
    from defactonlp_spark.plans.build import plan_compaction

    gens = [{"dir": f"/g{i}", "n_docs": n} for i, n in enumerate([900, 50, 400, 70, 30, 800])]
    # 6 live, max 4 -> merge the 3 smallest (30, 50, 70)
    assert plan_compaction(gens, max_generations=4) == ["/g4", "/g1", "/g3"]
    # at or under the cap: nothing due
    assert plan_compaction(gens[:4], max_generations=4) is None
    # one over the cap: min_merge floors the job at 2
    assert plan_compaction(gens[:5], max_generations=4) == ["/g4", "/g1"]
    # deterministic tie-break on dir when sizes equal
    ties = [{"dir": d, "n_docs": 10} for d in ("/b", "/a", "/c", "/e", "/d")]
    assert plan_compaction(ties, max_generations=3) == ["/a", "/b", "/c"]


def test_policy_driven_compaction_loop(spark, tmp_path):
    """plan_compaction driving merge_builds in a loop (the operational
    lifecycle): five unequal generations, cap 2 -> the policy selects the
    four smallest, one merge brings the live set to [merged, biggest],
    policy goes quiet; a final full merge serves queries rank-identical to
    WAND-vs-exhaustive over the same index and covers every doc."""
    from defactonlp_spark.plans.build import (
        IndexBuild,
        IndexReader,
        merge_builds,
        plan_compaction,
        prepare_webpages_fused,
    )
    from defactonlp_spark.plans.query import query_exhaustive, query_wand
    from defactonlp_spark.sources.fixtures import gen_claims, gen_webpages

    cfg = EngineConfig(n_buckets=4)
    sizes = [120, 40, 80, 30, 60]
    gens = []
    start = 0
    for gi, n in enumerate(sizes):
        pages = spark.createDataFrame(gen_webpages(n=n, seed=20 + gi, start=start))
        d = str(tmp_path / f"g{gi}")
        props = IndexBuild(
            d, cfg, build_id=f"g{gi}", n_groups=1, id_offset=gi << 50
        ).run(spark, prepare_webpages_fused(pages, n_parts=4), input_snapshot=f"g{gi}")
        gens.append({"dir": d, "n_docs": int(props["n_docs"])})
        start += n

    live = list(gens)
    job = plan_compaction(live, max_generations=2)
    assert job is not None and len(job) == 4
    # the four smallest by (n_docs, dir)
    assert set(job) == {g["dir"] for g in sorted(gens, key=lambda g: (g["n_docs"], g["dir"]))[:4]}

    d_m1 = str(tmp_path / "m1")
    p1 = merge_builds(spark, job, d_m1, cfg)
    live = [g for g in live if g["dir"] not in set(job)]
    live.append({"dir": d_m1, "n_docs": int(p1["n_docs"])})
    assert len(live) == 2
    assert plan_compaction(live, max_generations=2) is None  # at cap: quiet

    d_final = str(tmp_path / "mf")
    pf = merge_builds(spark, [g["dir"] for g in live], d_final, cfg)
    assert pf["n_docs"] == sum(sizes)
    r = IndexReader(spark, d_final)
    claims = spark.createDataFrame(gen_claims(10)[["claim_id", "claim"]])
    w = query_wand(r, claims, k=5, cfg=cfg).toPandas().sort_values(
        ["claim_id", "rank"]).reset_index(drop=True)
    e = query_exhaustive(r, claims, k=5, cfg=cfg).toPandas().sort_values(
        ["claim_id", "rank"]).reset_index(drop=True)
    assert list(w["doc_id"]) == list(e["doc_id"]) and len(w) > 0
