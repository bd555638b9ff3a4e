"""Physical-plan audit: print .explain('formatted') for the hot paths and
grep for the properties that matter at scale — parquet filter pushdown,
column pruning (ReadSchema), broadcast joins on small sides, whole-stage
codegen spans, and the single range shuffle in the build.

Usage: PYTHONPATH=/root/repo python scripts/explain_plans.py
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from defactonlp_spark.config import EngineConfig
from defactonlp_spark.operators import postings as P
from defactonlp_spark.operators.segments import encode_segments
from defactonlp_spark.session import get_spark

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def check(name: str, plan: str, must: list[str], must_not: list[str] = ()):  # noqa: D401
    print(f"== {name} ==")
    ok = True
    for m in must:
        hit = m.lower() in plan.lower()
        ok &= hit
        print(f"  [{'x' if hit else ' '}] contains {m!r}")
    for m in must_not:
        hit = m.lower() in plan.lower()
        ok &= not hit
        print(f"  [{'x' if not hit else '!'}] absent   {m!r}")
    if not ok:
        print(plan[:4000])
    return ok


def main():
    spark = get_spark("plans", cores=8, shuffle_partitions=8,
                      extra={"spark.ui.showConsoleProgress": "false"})
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ok = True

    # 1. narrow projection + filter pushdown reach the scan
    q = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    ok &= check(
        "filter+prune scan",
        plan_of(q),
        must=["PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]", "ReadSchema"],
    )
    p1 = plan_of(q)
    assert "n_chars" not in p1.split("ReadSchema")[1][:200], "column pruning failed"
    print("  [x] ReadSchema excludes unused columns")

    # 2. postings long table: single mapInPandas. A single-file fixture gets
    # exactly the deliberate parallelism-floor exchange (REPARTITION_BY_NUM);
    # a production-shaped multi-file table gets NO exchange at all.
    postings = P.build_postings(docs)
    ok &= check("tokenize stage (1-file input: floor exchange)", plan_of(postings),
                must=["MapInPandas", "REPARTITION_BY_NUM"])
    docs.repartition(8).write.mode("overwrite").parquet("/tmp/plan_docs8")
    wide = spark.read.parquet("/tmp/plan_docs8")
    ok &= check("tokenize stage (8-file input: no exchange)",
                plan_of(P.build_postings(wide)),
                must=["MapInPandas"], must_not=["Exchange"])
    postings = P.build_postings(docs)

    # 3. exhaustive BM25: broadcast join on query side, hash aggregate
    from defactonlp_spark.operators.bm25 import claim_terms, score_exhaustive

    claims = spark.createDataFrame([(0, "the merge join")], "claim_id long, claim string")
    stats = P.term_stats(postings)
    scored = score_exhaustive(postings, stats, claim_terms(claims), 500, 56.0, k=5)
    ok &= check(
        "bm25 exhaustive",
        plan_of(scored),
        # (codegen ids are not printed for un-executed AdaptiveSparkPlan;
        # WindowGroupLimit proves the top-k rank filter is pushed into the sort)
        must=["BroadcastHashJoin", "HashAggregate", "WindowGroupLimit"],
    )

    # 4. the build shuffle: exactly one range exchange keyed (term, salt),
    # feeding one MapInArrow encode
    cfg = EngineConfig(n_buckets=8)
    salted = P.with_salt(postings, P.salt_plan(stats, 500, cfg))
    seg = encode_segments(salted, stats, 500, 56.0, cfg, 8)
    plan = plan_of(seg)
    n_range = plan.lower().count("rangepartitioning")
    print(f"== build shuffle ==\n  [x] rangepartitioning exchanges: {n_range} (want 1)")
    ok &= n_range == 1
    ok &= check("build shuffle broadcast salt plan", plan, must=["BroadcastHashJoin", "Sort"])
    # the encode is ONE whole-batch MapInArrow node straight on the sorted
    # range shuffle: no second exchange between it and the output (the
    # operator tree is printed root first, so "above" = after it)
    tree = plan.split("\n\n", 1)[0]
    n_encode = tree.count("MapInArrow")
    above = tree.split("MapInArrow", 1)[0]
    print(f"  [{'x' if n_encode == 1 else '!'}] MapInArrow encode nodes: {n_encode} (want 1)")
    print(f"  [{'x' if 'Exchange' not in above else '!'}] no exchange after the encode")
    ok &= n_encode == 1 and "Exchange" not in above

    # 5. segment scan pruning by query terms
    seg.write.mode("overwrite").parquet("/tmp/plan_seg")
    segr = spark.read.parquet("/tmp/plan_seg").filter(F.col("term").isin(["the", "merge"]))
    ok &= check("segment term pruning", plan_of(segr), must=["PushedFilters: [In(term"])

    # 6. bucket-partitioned segment table: the serving scan prunes FILES via
    # PartitionFilters (bucket) before row-group term stats (VERDICT r2 #2)
    from defactonlp_spark.plans.build import IndexBuild, IndexReader
    from defactonlp_spark.plans.query import query_wand

    idx_dir = "/tmp/plan_idx"
    import shutil

    shutil.rmtree(idx_dir, ignore_errors=True)
    IndexBuild(idx_dir, cfg, build_id="plans", store_tokens=True).run(
        spark, docs, input_snapshot="plans"
    )
    reader = IndexReader(spark, idx_dir)
    seg_t = reader.segments()
    terms = ["the", "merge"]
    pruned = seg_t.filter(
        F.col("bucket").isin(reader.buckets_for_terms(terms))
    ).filter(F.col("term").isin(terms))
    ok &= check(
        "serving scan bucket partition pruning",
        plan_of(pruned),
        must=["PartitionFilters: [bucket", "PushedFilters: [In(term"],
    )
    # and the real serving entry point carries the same scan shape
    claims2 = spark.createDataFrame([(0, "the merge join")], "claim_id long, claim string")
    ok &= check(
        "query_wand scan",
        plan_of(query_wand(reader, claims2, k=5, cfg=cfg)),
        must=["PartitionFilters: [bucket", "PushedFilters: [In(term"],
    )
    # past 10 terms the optimizer turns the IN list into InSet; the scan
    # must still push it down
    claims12 = spark.createDataFrame(
        [(0, "the merge join of twelve distinct words keeps pruning every segment file")],
        "claim_id long, claim string",
    )
    ok &= check(
        "query_wand scan, >10 terms (InSet)",
        plan_of(query_wand(reader, claims12, k=5, cfg=cfg)),
        must=["PartitionFilters: [bucket", "PushedFilters: [In(term", "INSET"],
    )

    # 7. phrase serving: the positional-sidecar scan prunes files (bucket)
    # and row groups (term) exactly like the segment scan
    from defactonlp_spark.plans.query import query_phrase

    phrases = spark.createDataFrame([(0, "the merge")], "claim_id long, phrase string")
    pplan = plan_of(query_phrase(reader, phrases, k=5, cfg=cfg))
    tok_scans = [s for s in pplan.split("Scan parquet")
                 if "Location" in s and "tokens" in s.split("Location")[1][:300]]
    ok_tok = bool(tok_scans) and all(
        "PartitionFilters: [" in s and "In(term" in s for s in tok_scans
    )
    print(f"== query_phrase sidecar scan ==\n  [{'x' if ok_tok else ' '}] "
          "tokens scan has PartitionFilters(bucket) + PushedFilters In(term)")
    ok &= ok_tok

    # 8. boolean retrieval: same one-scan broadcast + single agg shape as
    # the other ad-hoc scorers, top-k rank pushed into the sort
    from defactonlp_spark.operators.bm25 import boolean_terms, score_boolean

    bq = spark.createDataFrame(
        [(0, "merge batch", "spark", "customer")],
        "claim_id long, must string, should string, must_not string",
    )
    ok &= check(
        "boolean retrieval",
        plan_of(score_boolean(postings, stats, boolean_terms(bq), 500, 56.0)),
        must=["BroadcastHashJoin", "HashAggregate", "WindowGroupLimit"],
    )

    # 9. RM3: fb-doc vectors join is broadcast (claims x fb_docs rows onto
    # postings), weighted second pass keeps the bm25 shape
    from defactonlp_spark.operators.expansion import rm3_topk

    ok &= check(
        "rm3 retrieval",
        plan_of(rm3_topk(postings, stats, claim_terms(claims), 500, 56.0,
                         k=5, fb_docs=5, fb_terms=8, rank_dp=6)),
        must=["BroadcastHashJoin", "WindowGroupLimit"],
    )

    # 10. PII + URL ops: map-only projections, zero exchanges, zero Python
    from defactonlp_spark.functions.pii import redact_pii
    from defactonlp_spark.functions.urls import url_features

    ok &= check("pii redaction (map-only)", plan_of(redact_pii(docs)),
                must=["Project"], must_not=["Exchange", "MapInPandas"])
    udf = docs.withColumn("url", F.concat(F.lit("https://h.example.com/p/"),
                                          F.col("doc_id").cast("string")))
    ok &= check("url features (map-only)", plan_of(url_features(udf)),
                must=["Project"], must_not=["Exchange", "MapInPandas"])

    # 11. PMI top-k is TakeOrdered (distributed partial top-k), never a
    # single-partition global row_number window
    from defactonlp_spark.operators.analytics import bigram_pmi

    ok &= check("bigram_pmi global top-k", plan_of(bigram_pmi(docs, 20, 50)),
                must=["TakeOrderedAndProject"], must_not=["Window"])

    # 12. chunk dedup: the keeper window shuffles on md5(chunk), then one
    # per-doc hash aggregate
    from defactonlp_spark.operators.dedup import chunk_dedup

    # (Catalyst projects md5(sentence) to a _w0 attr before the exchange,
    # so assert on the projected expr + the partial agg instead)
    ok &= check("chunk dedup", plan_of(chunk_dedup(docs)),
                must=["md5(cast(sentence", "Window", "partial_count"])

    # 13. decontaminate: eval shingles BROADCAST onto the corpus explode
    # (one corpus pass), never a shuffle join on the shingle key
    from defactonlp_spark.operators.dedup import decontaminate

    # fast path (eval set fits the driver probe): ONE Python kernel over the
    # corpus text, broadcast SET probe inside it — the plan must be a pure
    # map stage: no join, no exchange of anything corpus-shingle-sized
    ok &= check(
        "decontaminate (kernel path: map-only, no shingle join)",
        plan_of(decontaminate(docs, docs.filter((F.col("doc_id") % 97) == 0))),
        must=["MapInPandas"],
        must_not=["SortMergeJoin", "BroadcastHashJoin"],
    )
    # forced fallback (eval set too big to broadcast-collect): distributed
    # LEFT SEMI on the shingle key
    ok &= check(
        "decontaminate (fallback: distributed semi-join)",
        plan_of(
            decontaminate(
                docs,
                docs.filter((F.col("doc_id") % 97) == 0),
                max_broadcast_shingles=0,
            )
        ),
        must=["LeftSemi"],
    )

    # 14. training_mix: the two-phase prefix sum — bucketed intra windows +
    # broadcast offsets join; the single-reducer global window per source
    # would show as a Window whose partitioning has NO bucket column
    from defactonlp_spark.operators.curation import training_mix

    tm_plan = plan_of(training_mix(docs, {"src0": 100}))
    ok &= check(
        "training_mix (bucketed prefix sum)",
        tm_plan,
        must=["Window", "_bucket", "BroadcastHashJoin"],
    )

    # 15. collapsed retrieval: query terms broadcast onto the postings scan,
    # then the two windows (group-best + cross-group top-k)
    from defactonlp_spark.operators.bm25 import claim_terms, score_collapsed
    from defactonlp_spark.functions.tokenize import tokenize_postings

    pz = tokenize_postings(docs)
    st = P.term_stats(pz)
    qt = claim_terms(
        spark.createDataFrame([(1, "alpha beta")], "claim_id long, claim string")
    )
    groups = docs.select("doc_id", F.col("source").alias("group"))
    ok &= check(
        "collapsed top-k",
        plan_of(score_collapsed(pz, st, qt, 100, 10.0, groups, k=5)),
        must=["BroadcastHashJoin", "Window"],
    )

    # 16. LM Dirichlet: query terms broadcast onto the postings scan (one
    # wide scan, hash agg); the dl normalizer must NOT force a second
    # corpus-sized exchange (nq join is broadcast)
    from defactonlp_spark.operators.lm import ctf_stats, score_lm_dirichlet

    ok &= check(
        "lm dirichlet (broadcast q + broadcast nq)",
        plan_of(score_lm_dirichlet(pz, ctf_stats(pz), qt, 1000, k=5)),
        must=["BroadcastHashJoin", "HashAggregate", "Window"],
        must_not=["SortMergeJoin"],
    )

    # 17. static pruning: one window on term (rides the build's term-keyed
    # shuffle shape); stats join broadcastable
    from defactonlp_spark.operators.postings import prune_postings

    ok &= check(
        "prune_postings (term window, no extra corpus join)",
        plan_of(prune_postings(pz, st, 100, 10.0, keep_n=3)),
        must=["Window", "BroadcastHashJoin"],
        must_not=["SortMergeJoin"],
    )

    # 18. boosted: the corpus-sized boost table must NOT be broadcast — the
    # scored relation joins it doc-keyed (SortMergeJoin/shuffled hash is the
    # correct shape here)
    from defactonlp_spark.operators.bm25 import score_boosted

    boosts = docs.select("doc_id", F.lit(1.0).alias("boost"))
    bplan = plan_of(score_boosted(pz, st, qt, 100, 10.0, boosts, k=5))
    ok &= check(
        "boosted (doc-keyed prior join present)",
        bplan,
        must=["Window", "HashAggregate"],
    )

    # 19. pack_sequences: bucketed intra windows (partition spec carries
    # _bucket) + broadcast offsets join — never one global data window
    from defactonlp_spark.operators.curation import pack_sequences

    ok &= check(
        "pack_sequences (bucketed prefix sum)",
        plan_of(pack_sequences(docs, seq_len=64)),
        must=["Window", "_bucket", "BroadcastHashJoin"],
    )

    # 20. best_passage: query terms + scope broadcast onto the token scan;
    # the range self-join must not degrade to a cartesian
    from defactonlp_spark.operators.phrase import best_passage
    from defactonlp_spark.functions.tokenize import tokenize_tokens

    scope = spark.createDataFrame([(1, 0)], "claim_id long, doc_id long")
    ok &= check(
        "best_passage (broadcast q+scope, range join)",
        plan_of(best_passage(tokenize_tokens(docs), qt, scope, window=8)),
        must=["BroadcastHashJoin", "Window"],
        must_not=["CartesianProduct"],
    )

    # 21. bm25f: one field-postings scan, query side broadcast, field stats
    # broadcast; no corpus-sized sort-merge join
    from defactonlp_spark.operators.bm25f import lead_body_fields, score_bm25f

    fp = lead_body_fields(docs, lead_n=8)
    ok &= check(
        "bm25f (broadcast query + field stats)",
        plan_of(score_bm25f(fp, qt, k=5)),
        must=["BroadcastHashJoin", "HashAggregate", "Window"],
    )

    # 22. symspell fuzzy: the deletion-key EQUI-join — the banded
    # theta-join's BroadcastNestedLoopJoin must be gone from this plan
    from defactonlp_spark.operators.expansion import expand_fuzzy_symspell

    ok &= check(
        "fuzzy symspell (equi-join, no nested loop)",
        plan_of(expand_fuzzy_symspell(st, qt, 3)),
        must=["Window"],
        must_not=["BroadcastNestedLoopJoin", "CartesianProduct"],
    )

    # 23. dup_spans: one kernel pass -> hash agg on the gram key ->
    # LEFT SEMI back -> per-doc window; no corpus-sized nested join
    from defactonlp_spark.operators.dedup import dup_spans

    ok &= check(
        "dup_spans (gram agg + semi-join + gap-merge window)",
        plan_of(dup_spans(docs, gram_len=4)),
        must=["MapInPandas", "HashAggregate", "LeftSemi", "Window"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
    )

    # 24. percolate_v2: every rule-side join must BROADCAST the rule
    # relation onto corpus-sized scans (postings for term clauses, the
    # positional tokens relation for phrase clauses); the anchor trick
    # means NO positional self-join appears — no nested loop, no cartesian
    from defactonlp_spark.functions.tokenize import tokenize_tokens
    from defactonlp_spark.operators.bm25 import percolate_v2

    # checked at RULE VOLUME (1,000 mixed term+phrase rules — the round-5
    # bench scale): the rules side must broadcast onto the corpus-sized
    # postings/tokens scans at ANY rule count; a SortMergeJoin here would
    # mean corpus-sized data shuffled on behalf of the rule relation
    rules = spark.createDataFrame(
        [(i, 0, "must", "terms", f"alpha{i} beta{i}") for i in range(1000)]
        + [(i, 1, "should", "phrase", f"gamma{i} delta{i}") for i in range(1000)],
        "query_id long, clause_id long, occur string, kind string, text string",
    )
    ok &= check(
        "percolate_v2 @1000 rules (broadcast rules, anchor-trick phrases)",
        plan_of(percolate_v2(pz, rules, tokens=tokenize_tokens(docs))),
        must=["BroadcastHashJoin", "HashAggregate"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    )

    # 25. sharded fan-out/merge: shard-local kernels via ONE cogroup
    # (FlatMapCoGroupsInPandas), the claim side replicated by a broadcast
    # 4-row range (BroadcastNestedLoopJoin on a constant-sized side is the
    # intended shape), then one window over |claims| x shards x k local
    # winners — never a cartesian, never a corpus-sized merge input
    from defactonlp_spark.operators.postings import salt_plan, with_salt
    from defactonlp_spark.operators.sharding import (
        encode_sharded_segments, wand_topk_sharded,
    )

    sseg = encode_sharded_segments(
        with_salt(pz, salt_plan(st, 100, cfg)), st, 100, 10.0, cfg, 4, 8
    )
    ok &= check(
        "sharded serving (cogroup fan-out + merge window)",
        plan_of(wand_topk_sharded(sseg, qt, 100, 10.0, 4, k=5, cfg=cfg)),
        must=["FlatMapCoGroupsInPandas", "Window"],
        must_not=["CartesianProduct"],
    )

    # 26. wildcard expansion: patterns BROADCAST onto the Heaps-bounded
    # dictionary (BroadcastNestedLoopJoin over vocab x patterns is the
    # intended cost class — the corpus is never touched), top-terms cut is
    # a window; no cartesian, no shuffle join
    from defactonlp_spark.operators.expansion import expand_wildcards, wildcard_terms

    wclaims = spark.createDataFrame(
        [(0, "al* b?ta")], "claim_id long, claim string"
    )
    ok &= check(
        "wildcard expansion (broadcast patterns onto dictionary)",
        plan_of(expand_wildcards(st, wildcard_terms(wclaims), 4)),
        must=["BroadcastNestedLoopJoin", "Window"],
        must_not=["CartesianProduct", "SortMergeJoin"],
    )

    # 27. decontaminate_spans: one corpus gram-kernel pass, eval grams
    # distinct (benchmark-sized), LEFT SEMI on the int64 key, per-doc
    # gap-merge window — the dup_spans shape pointed at an eval set
    from defactonlp_spark.operators.dedup import decontaminate_spans

    ok &= check(
        "decontaminate_spans (gram kernel + semi-join + gap-merge)",
        plan_of(decontaminate_spans(
            docs, docs.filter((F.col("doc_id") % 97) == 0), gram_len=4
        )),
        must=["MapInPandas", "LeftSemi", "Window"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
    )

    # 28. span-near: each greedy-frontier step is a bounded range join over
    # the persisted occurrence relation — broadcast qpos onto the token
    # scan, per-anchor min aggregate; no cartesian, no nested loop
    from defactonlp_spark.operators.phrase import phrase_positions, span_near_matches

    sn_phrases = spark.createDataFrame(
        [(0, "alpha beta gamma")], "claim_id long, phrase string"
    )
    ok &= check(
        "span_near (bounded frontier range joins)",
        plan_of(span_near_matches(
            tokenize_tokens(docs), phrase_positions(sn_phrases), 2
        )),
        must=["HashAggregate"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
    )

    # 29. regex expansion: same dictionary-only shape as wildcard — the
    # pattern relation broadcast onto the Heaps-bounded vocab, top-terms
    # window; the corpus is never touched
    from defactonlp_spark.operators.expansion import expand_regex

    rpats = spark.createDataFrame([(0, "al.*")], "claim_id long, pattern string")
    ok &= check(
        "regex expansion (broadcast patterns onto dictionary)",
        plan_of(expand_regex(st, rpats, 4)),
        must=["BroadcastNestedLoopJoin", "Window"],
        must_not=["CartesianProduct", "SortMergeJoin"],
    )

    # 30. dis_max: identical envelope to exhaustive BM25 — broadcast query
    # side, max+sum in ONE hash aggregate, windowed top-k
    from defactonlp_spark.operators.bm25 import score_dismax

    ok &= check(
        "dis_max (one scan, max+sum in one agg)",
        plan_of(score_dismax(postings, stats, claim_terms(claims), 500, 56.0, k=5)),
        must=["BroadcastHashJoin", "HashAggregate", "WindowGroupLimit"],
        must_not=["CartesianProduct", "SortMergeJoin"],
    )

    # 31. explain breakdown: the top-k cut is a WINDOW over the scored
    # contribs relation — one broadcast join, no second corpus scan or
    # join-back against the postings
    from defactonlp_spark.operators.bm25 import explain_topk

    explain_plan = plan_of(
        explain_topk(postings, stats, claim_terms(claims), 500, 56.0, k=5)
    )
    ok &= check(
        "explain breakdown (window cut, no join-back)",
        explain_plan,
        must=["BroadcastHashJoin", "Window"],
        must_not=["CartesianProduct", "SortMergeJoin"],
    )
    # "no join-back" materially: explain's plan contains exactly as many
    # tokenize-kernel subtrees as plain score_exhaustive's (the stats side
    # re-derives from the kernel in BOTH un-executed plans; AQE reuses the
    # exchange at runtime). A join-back formulation would add one more.
    n_exh = plan_of(
        score_exhaustive(postings, stats, claim_terms(claims), 500, 56.0, k=5)
    ).count("MapInPandas")
    n_scans = explain_plan.count("MapInPandas")
    print(f"  [x] tokenize-kernel subtrees: explain {n_scans} vs exhaustive {n_exh} (want ==)")
    ok &= n_scans == n_exh

    # 32. combined_fields: the virtual field merge is hash aggregates over
    # ONE field-postings relation — broadcast query side, windowed top-k,
    # no cartesian, no sort-merge
    from defactonlp_spark.operators.bm25f import lead_body_fields, score_combined_fields
    from defactonlp_spark.functions.tokenize import tokenize_tokens

    fp = lead_body_fields(docs, lead_n=20)
    ok &= check(
        "combined_fields (weight-merged aggs, one relation)",
        plan_of(score_combined_fields(fp, claim_terms(claims), k=5)),
        must=["BroadcastHashJoin", "HashAggregate", "WindowGroupLimit"],
        must_not=["CartesianProduct", "SortMergeJoin"],
    )

    # 33. match_phrase_prefix: the prefix expands against the DICTIONARY
    # via a broadcast nested-loop LIKE join (patterns side tiny); corpus
    # joins stay broadcast-hash; never a cartesian
    from defactonlp_spark.operators.phrase import score_phrase_prefix

    phrases = spark.createDataFrame([(0, "merge jo")], "claim_id long, phrase string")
    # the match gate is a LeftSemi between two corpus-derived relations
    # (scored postings x positional matches) — a shuffled SortMergeJoin is
    # the CORRECT physical choice there (neither side broadcastable at
    # scale), so only cartesians are banned; the dictionary LIKE rewrite
    # and the query side must still broadcast
    ok &= check(
        "match_phrase_prefix (dictionary rewrite, anchor match)",
        plan_of(score_phrase_prefix(
            postings, stats, tokenize_tokens(docs), phrases, 500, 56.0, k=5
        )),
        must=["BroadcastHashJoin", "WindowGroupLimit", "LeftSemi"],
        must_not=["CartesianProduct"],
    )

    # 34. filtered knn: the allowed-set pre-filter is a left-semi
    # BroadcastHashJoin BELOW the scoring join — a selective filter
    # shrinks the expensive kernel's input, the point of pre-filtering
    from defactonlp_spark.operators.similarity import cosine_topk_filtered

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    knn_plan = plan_of(cosine_topk_filtered(
        emb, emb.filter(F.col("label") == 1).select("vec_id"), [0, 1, 2], k=5
    ))
    # the semi-join's predicate must reach the embeddings SCAN as a pushed
    # filter (EqualTo(label,1)) — the pre-filter shrinks the kernel input
    # at the source, not after the scoring join
    ok &= check(
        "knn pre-filter (filter pushed below scoring join to the scan)",
        knn_plan,
        must=["BroadcastHashJoin", "EqualTo(label,1)"],
        must_not=["CartesianProduct", "SortMergeJoin"],
    )

    # 35. composite agg page 2: the after-key predicate reaches the
    # parquet scan (PushedFilters on the leading key) and the page cut is
    # TakeOrderedAndProject — no full bucket sort
    from defactonlp_spark.operators.analytics import composite_agg

    aggs = [F.count(F.lit(1)).cast("long").alias("doc_count")]
    comp_plan = plan_of(
        composite_agg(docs, ["source", "lang"], aggs, size=5, after=("web", "en"))
    )
    ok &= check(
        "composite page (after-key pushed to scan, TakeOrdered cut)",
        comp_plan,
        must=["TakeOrderedAndProject", "GreaterThan(source,web)"],
        must_not=["CartesianProduct"],
    )

    # 36. terms_set: n_matched rides the SAME hash aggregate as the score;
    # the |corpus|-sized thresholds relation joins doc-keyed (shuffle, not
    # broadcast — same envelope as score_boosted's prior join)
    from defactonlp_spark.operators.bm25 import score_terms_set

    th = docs.select("doc_id", (F.col("doc_id") % 3 + 1).cast("int").alias("required"))
    ok &= check(
        "terms_set (count+score in one agg, doc-keyed threshold join)",
        plan_of(score_terms_set(postings, stats, claim_terms(claims), 500, 56.0, th, k=5)),
        must=["BroadcastHashJoin", "HashAggregate", "WindowGroupLimit"],
        must_not=["CartesianProduct"],
    )

    # 37. cardinality exact: two-phase — the dedup aggregate has a PARTIAL
    # before the exchange (map-side combine shrinks each partition to its
    # local distincts), then the count per group; no expand/single giant agg
    from defactonlp_spark.operators.analytics import cardinality_agg

    ev = spark.read.parquet(f"{SF}/events.parquet")
    card_plan = plan_of(cardinality_agg(ev, ["event_type"], "user_id"))
    ok &= check(
        "cardinality exact (re-aggregable two-phase distinct)",
        card_plan,
        must=["HashAggregate"],
        must_not=["CartesianProduct", "SortMergeJoin"],
    )
    n_aggs = card_plan.count("HashAggregate")
    print(f"  [x] HashAggregate stages: {n_aggs} (want >= 3: partial dedup + final dedup + count)")
    ok &= n_aggs >= 3

    # 38. multi_match best_fields: per-field BM25 + dis_max combine are
    # consecutive hash aggregates over the single field-postings scan;
    # query/stats sides broadcast
    from defactonlp_spark.operators.bm25f import score_multi_match_best_fields

    ok &= check(
        "multi_match best_fields (per-field aggs + dis_max, one scan)",
        plan_of(score_multi_match_best_fields(fp, claim_terms(claims), k=5)),
        must=["BroadcastHashJoin", "HashAggregate", "WindowGroupLimit"],
        must_not=["CartesianProduct", "SortMergeJoin"],
    )

    # 39. has_child block join: all-match child scoring (broadcast query
    # side) + ONE extra hash aggregate for the parent rollup + window top-k;
    # never a cartesian, never a sort-merge join on the child relation
    from defactonlp_spark.operators.blockjoin import score_has_child
    from defactonlp_spark.operators.bm25 import score_all

    child_scores = score_all(
        postings, P.term_stats(postings), claim_terms(claims), 1000, 10.0
    ).withColumnRenamed("doc_id", "child_id")
    ok &= check(
        "has_child (child score agg + parent rollup agg + top-k window)",
        plan_of(
            score_has_child(
                child_scores, (F.col("child_id") / 1024).cast("long"),
                score_mode="max", min_children=2, k=5,
            )
        ),
        must=["BroadcastHashJoin", "HashAggregate", "WindowGroupLimit"],
        must_not=["CartesianProduct", "SortMergeJoin"],
    )

    # 40. rank_feature: the corpus-sized feature table joins doc-keyed and
    # must NOT be broadcast (only the query side is); saturation is plain
    # codegen arithmetic, no Python stage
    from defactonlp_spark.operators.bm25 import score_rank_feature

    feats = docs.select("doc_id", (F.col("n_chars") / 1000.0).alias("feature"))
    rf_plan = plan_of(
        score_rank_feature(
            postings, P.term_stats(postings), claim_terms(claims),
            1000, 10.0, feats, pivot=0.5, boost=2.0, k=5,
        )
    )
    ok &= check(
        "rank_feature (doc-keyed feature join, saturation in codegen)",
        rf_plan,
        must=["HashAggregate", "WindowGroupLimit"],
        must_not=["CartesianProduct"],
    )

    # 41. date_histogram pipeline aggs: ONE data-scale aggregate (partial +
    # final over the date_trunc key); everything downstream (grid, window
    # functions) runs on the metadata-scale bucket relation
    from defactonlp_spark.operators.analytics import date_histogram_pipeline

    ok &= check(
        "date_histogram pipeline (bucket agg + metadata-scale window)",
        plan_of(date_histogram_pipeline(ev)),
        must=["HashAggregate", "Window"],
        must_not=["CartesianProduct"],
    )

    # 42. geo_distance: no join at all (query point is a literal); the
    # top-k compiles to TakeOrderedAndProject (per-partition heaps), never
    # a single-partition window over every in-radius doc
    from defactonlp_spark.operators.geo import geo_distance_topk, geo_grid, with_coords

    geo = with_coords(docs)
    ok &= check(
        "geo_distance (literal point, distributed top-k)",
        plan_of(geo_distance_topk(geo, 37.5, -122.0, 6000.0, k=10)),
        must=["TakeOrderedAndProject"],
        must_not=["CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin"],
    )

    # 43. geo_grid: ONE data-scale hash aggregate on the cell key +
    # distributed top-N over the metadata-scale cell relation
    ok &= check(
        "geo_grid (cell agg + TakeOrdered)",
        plan_of(geo_grid(geo, 4, top=25)),
        must=["HashAggregate", "TakeOrderedAndProject"],
        must_not=["CartesianProduct", "SortMergeJoin"],
    )

    # 44. percentile_ranks: the probe values fan out via a BROADCAST
    # nested-loop (right side is len(values) literal rows), then one hash
    # aggregate with map-side combine — no shuffle-side cross product
    from defactonlp_spark.operators.analytics import (
        adjacency_matrix,
        matrix_stats,
        percentile_ranks,
    )

    ok &= check(
        "percentile_ranks (broadcast probe fan-out + agg)",
        plan_of(percentile_ranks(ev, ["event_type"], "value", [25.0, 250.0])),
        must=["HashAggregate", "Broadcast"],
        must_not=["CartesianProduct", "SortMergeJoin"],
    )

    # 45. matrix_stats: re-aggregable partials -> ONE hash aggregate; the
    # pair unpivot (Generate/explode) runs on the group relation, no join
    li_like = ev.select(
        "event_type", F.col("value").alias("x"), (F.col("value") * 2).alias("y")
    )
    ok &= check(
        "matrix_stats (one agg, pair unpivot, no join)",
        plan_of(matrix_stats(li_like, ["event_type"], ["x", "y"])),
        must=["HashAggregate", "Generate"],
        must_not=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    )

    # 46. adjacency_matrix: map-side flag projection + ONE global aggregate;
    # no join anywhere (the matrix is sums of flag products)
    ok &= check(
        "adjacency_matrix (flags + single global agg)",
        plan_of(adjacency_matrix(docs, {"a": "merge", "b": "table"})),
        must=["HashAggregate"],
        must_not=["Join", "CartesianProduct"],
    )

    # 47. Jelinek-Mercer: same envelope as Dirichlet — query terms broadcast
    # onto the postings scan, one hash aggregate, top-k via WindowGroupLimit
    from defactonlp_spark.operators.lm import ctf_stats, score_lm_jelinek_mercer

    ok &= check(
        "lm_jelinek_mercer (broadcast qterms + agg)",
        plan_of(
            score_lm_jelinek_mercer(
                postings, ctf_stats(postings), claim_terms(claims), 30000, k=5
            )
        ),
        must=["BroadcastHashJoin", "HashAggregate", "WindowGroupLimit"],
        must_not=["CartesianProduct", "SortMergeJoin"],
    )

    # 48. geo_distance_rings: map-only distance + ring label over the scan,
    # ONE data-scale hash aggregate on the ring key; the bounds lookup
    # joins BROADCAST onto the metadata-scale ring relation
    from defactonlp_spark.operators.geo import geo_distance_rings

    ok &= check(
        "geo_distance_rings (map-only label + one agg + broadcast bounds)",
        plan_of(geo_distance_rings(geo, 37.5, -122.0, [2000.0, 6000.0])),
        must=["HashAggregate", "BroadcastHashJoin"],
        must_not=["CartesianProduct", "SortMergeJoin"],
    )

    # 49. weighted_avg: two re-aggregable sums in ONE hash aggregate with
    # map-side combine; no join, no window
    from defactonlp_spark.operators.analytics import bigram_completion, weighted_avg

    ok &= check(
        "weighted_avg (single agg, no join)",
        plan_of(weighted_avg(ev, ["event_type"], "value", "value")),
        must=["HashAggregate"],
        must_not=["Join", "Window", "CartesianProduct"],
    )

    # 50. bigram_completion: ONE data-scale bigram aggregate; the prefix
    # relation BROADCASTs onto it (equi-join on w1 + startswith residual —
    # never a nested loop); per-suggestion top-k is WindowGroupLimit
    pref = spark.createDataFrame(
        [(0, "the", "a")], "sugg_id long, first string, prefix string"
    )
    ok &= check(
        "bigram_completion (bigram agg + broadcast prefix + group limit)",
        plan_of(bigram_completion(docs, pref, k=5)),
        must=["HashAggregate", "BroadcastHashJoin", "WindowGroupLimit"],
        must_not=["CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin"],
    )

    # 51. the new similarity trio shares the lm envelope: broadcast query
    # terms onto the postings scan, one hash aggregate, WindowGroupLimit
    from defactonlp_spark.operators.lm import (
        score_axiomatic_f2exp,
        score_dfi_chisq,
        score_ib_spl,
    )

    for nm, df in [
        ("dfi_chisq", score_dfi_chisq(postings, ctf_stats(postings), claim_terms(claims), 30000, k=5)),
        ("ib_spl", score_ib_spl(postings, P.term_stats(postings), claim_terms(claims), 500, 60.0, k=5)),
        ("axiomatic_f2exp", score_axiomatic_f2exp(postings, P.term_stats(postings), claim_terms(claims), 500, 60.0, k=5)),
    ]:
        ok &= check(
            f"{nm} (broadcast qterms + agg)",
            plan_of(df),
            must=["BroadcastHashJoin", "HashAggregate", "WindowGroupLimit"],
            must_not=["CartesianProduct", "SortMergeJoin"],
        )

    # 52. simple_query_string: clause relations BROADCAST onto the postings
    # scan; never a nested loop even with the startswith prefix residual
    # (the prefix join is against the Heaps-bounded dictionary)
    from defactonlp_spark.operators.querystring import (
        parse_simple_query_string,
        score_query_string,
    )
    from defactonlp_spark.functions.tokenize import tokenize_tokens

    toks_rel = tokenize_tokens(docs)
    parsed = {0: parse_simple_query_string('merge +join "table hash" -stream quer*')}
    # the phrase clause's match gate is a LeftSemi between two
    # corpus-derived relations (scored postings x positional matches) — a
    # shuffled SortMergeJoin is the CORRECT choice there (same contract as
    # match_phrase_prefix above); clause lookups must still broadcast
    ok &= check(
        "query_string (broadcast clauses, one agg per family)",
        plan_of(score_query_string(postings, P.term_stats(postings), toks_rel, parsed, 500, 60.0, k=5)),
        must=["BroadcastHashJoin", "HashAggregate", "WindowGroupLimit", "LeftSemi"],
        must_not=["CartesianProduct"],
    )

    # 53. string_stats: the char histogram is explode -> TWO-level hash
    # aggregate with map-side combine; the per-group join of the tiny
    # length/entropy relations must be broadcast
    from defactonlp_spark.operators.analytics import string_stats

    ok &= check(
        "string_stats (explode + partial aggs, no sort-merge)",
        plan_of(string_stats(docs, ["lang"], "text")),
        must=["Generate", "HashAggregate"],
        must_not=["CartesianProduct"],
    )

    # 54. phrase_suggest: candidate generation is a broadcast band-join
    # against the dictionary; sequence chaining joins metadata-scale
    # relations only; bigram lookup joins the frontier BROADCAST side
    from defactonlp_spark.operators.analytics import token_bigrams
    from defactonlp_spark.operators.expansion import phrase_suggest

    bigc = token_bigrams(docs).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    ok &= check(
        "phrase_suggest (broadcast candidates + bounded chain)",
        plan_of(
            phrase_suggest(ctf_stats(postings), bigc, [(0, "mrge join")], 30000)
        ),
        must=["BroadcastHashJoin", "WindowGroupLimit"],
        must_not=["CartesianProduct"],
    )

    # 55. bbq ANN: candidate generation is a BroadcastNestedLoopJoin BY
    # DESIGN — the |Q|-row query-bit relation broadcasts onto one scan of
    # the 8-byte bit column (vec_id != query_id is non-equi); the exact
    # rescore joins candidates back by id as a BroadcastHashJoin
    from defactonlp_spark.operators.similarity import bq_ann_topk

    emb2 = spark.read.parquet(f"{SF}/embeddings.parquet")
    ok &= check(
        "bbq_ann (bit scan BNLJ + broadcast rescore + group limits)",
        plan_of(bq_ann_topk(emb2, [0, 1], k=5, fetch_k=20)),
        must=["BroadcastNestedLoopJoin", "BroadcastHashJoin", "WindowGroupLimit", "bit_count"],
        must_not=["CartesianProduct", "SortMergeJoin"],
    )

    # 56. filters_agg: ONE scan, conditional aggregates, zero joins — the
    # unpivot is a driver-free generate over the single aggregate row
    from defactonlp_spark.operators.analytics import date_range_agg, filters_agg

    ev = spark.read.parquet(f"{SF}/events.parquet")
    ok &= check(
        "filters_agg (one scan, no join)",
        plan_of(filters_agg(ev, {"c": F.col("event_type") == "click",
                                 "h": F.col("value") > 100.0})),
        must=["HashAggregate"],
        must_not=["Join", "CartesianProduct"],
    )

    # 57. date_range_agg: the range list broadcasts onto one events scan
    ok &= check(
        "date_range_agg (broadcast ranges + broadcast hits rejoin)",
        plan_of(date_range_agg(ev, [("a", None, 100), ("b", 50, None)])),
        must=["BroadcastNestedLoopJoin", "BroadcastHashJoin"],
        must_not=["CartesianProduct", "SortMergeJoin"],
    )

    # 58. url_blocklist_filter: ZERO shuffle — the rule list is a literal
    # array scanned per row; nothing exchanges, nothing joins
    from defactonlp_spark.operators.curation import stratified_sample, url_blocklist_filter

    durl = docs.select("doc_id", F.concat(F.lit("https://h"), F.col("doc_id"),
                                          F.lit(".example.com/p")).alias("url"))
    ok &= check(
        "url_blocklist_filter (zero shuffle, zero join)",
        plan_of(url_blocklist_filter(durl, [("r0", "domain", "example.com"),
                                            ("r1", "prefix", "https://h1")])),
        must=["Project"],
        must_not=["Exchange", "Join"],
    )

    # 58b. url_blocklist_join (rule-volume variant): domain rules are an
    # EQUI-join on the exploded suffix chain, prefix rules equi-join the
    # pattern host — both broadcast; only the narrow hit relation
    # aggregates. No SMJ anywhere on the rule side.
    from defactonlp_spark.operators.curation import url_blocklist_join

    ok &= check(
        "url_blocklist_join (broadcast suffix equi-joins)",
        plan_of(url_blocklist_join(durl, [("r0", "domain", "example.com"),
                                          ("r1", "prefix", "https://h1.example.com/p")])),
        must=["BroadcastHashJoin", "Explode"],
        must_not=["BroadcastNestedLoopJoin", "CartesianProduct"],
    )

    # 59. stratified_sample: broadcast the permille map, codegen hash
    # filter — the corpus itself never shuffles
    ok &= check(
        "stratified_sample (broadcast rates, no corpus shuffle)",
        plan_of(stratified_sample(docs, {"src0": 500, "src1": 100})),
        must=["BroadcastHashJoin"],
        must_not=["SortMergeJoin", "CartesianProduct"],
    )

    # 60. graph ANN: the only data-scale exchange is the groupBy(cell)
    # hashpartitioning feeding the per-cell applyInPandas graph pass
    # (FlatMapGroupsInPandas); unprobed cells are pruned BEFORE it (isin on
    # the probed-cell set); the rescore tail is broadcast-only. No
    # cartesian, no SortMergeJoin anywhere.
    from defactonlp_spark.operators.graphann import graph_ann_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ok &= check(
        "graph_ann_topk (one cell exchange + pandas graph pass + broadcast rescore)",
        plan_of(graph_ann_topk(emb, [0, 1, 2], k=5)),
        must=["FlatMapGroupsInPandas", "hashpartitioning(cell",
              "BroadcastHashJoin", "cell#"],
        must_not=["CartesianProduct", "SortMergeJoin"],
    )

    # 61. link PageRank: per-iteration contribution aggregate is partial ->
    # final (map-side combine); the ONLY nested-loop join is the deliberate
    # 1-row dangling-mass broadcast (request-shaped by construction); no
    # Python anywhere in the loop. checkpoint_final=False keeps the loop
    # body VISIBLE in the final plan (the production default eagerly pins
    # the result RDD, which would hide the audited operators behind a
    # Scan ExistingRDD).
    from defactonlp_spark.operators.linkgraph import (
        pagerank,
        synthetic_edges,
    )

    n_pr = docs.count()
    pr_nodes = docs.select(F.col("doc_id").cast("long").alias("id"))
    prplan = plan_of(
        pagerank(pr_nodes, synthetic_edges(docs, n_pr), n_pr, iters=2,
                 checkpoint_every=1, checkpoint_final=False)
    )
    ok &= check(
        "link_pagerank loop body (codegen iteration, no Python)",
        prplan,
        # node-scale joins may legitimately be shuffle joins at scale
        # (both sides are data-scale); the asserts pin the aggregate
        # shape and the no-Python loop body.
        must=["HashAggregate"],
        must_not=["CartesianProduct", "MapInPandas", "FlatMapGroupsInPandas",
                  "ArrowEvalPython", "BatchEvalPython"],
    )
    # ...and the top-n tail: sort+limit (TakeOrderedAndProject), never an
    # unpartitioned row_number window over the node set
    from defactonlp_spark.operators.linkgraph import link_pagerank_topn

    ok &= check(
        "link_pagerank top-n tail (distributed sort+limit)",
        plan_of(link_pagerank_topn(docs, topn=5)),
        must=["TakeOrderedAndProject"],
        must_not=["CartesianProduct", "MapInPandas", "ArrowEvalPython"],
    )
    # the one BroadcastNestedLoopJoin allowed is the 1-row dmass crossJoin
    # (formatted explain prints each node twice — tree + detail — so count
    # numbered detail headers only)
    import re as _re

    _bnlj = len(_re.findall(r"\(\d+\) BroadcastNestedLoopJoin", prplan))
    print(f"  [{'x' if _bnlj <= 1 else '!'}] <=1 BroadcastNestedLoopJoin "
          f"(1-row dmass crossJoin), got {_bnlj}")
    ok &= _bnlj <= 1

    # 62. HITS: same loop discipline as pagerank — no Python, no cartesian;
    # the only nested-loop joins are the TWO 1-row normalization broadcasts
    # (end-normalization contract).
    from defactonlp_spark.operators.linkgraph import link_hits_topn

    hplan = plan_of(link_hits_topn(docs, topn=5))
    ok &= check(
        "link_hits (no Python, distributed top-n)",
        hplan,
        must=["HashAggregate", "TakeOrderedAndProject"],
        must_not=["CartesianProduct", "MapInPandas", "FlatMapGroupsInPandas",
                  "ArrowEvalPython", "BatchEvalPython"],
    )
    _hb = len(_re.findall(r"\(\d+\) BroadcastNestedLoopJoin", hplan))
    print(f"  [{'x' if _hb <= 2 else '!'}] <=2 BroadcastNestedLoopJoin "
          f"(two 1-row norm broadcasts), got {_hb}")
    ok &= _hb <= 2

    # 63. TextRank: ONE Python stage (the positional tokenizer kernel) and
    # the per-doc lead() window feed the co-occurrence graph; the weighted
    # power iteration itself is all-relational (audited above via the
    # shared pagerank core). The end-to-end entry's returned plan sits
    # behind the eager final checkpoint, so audit the GRAPH-CONSTRUCTION
    # half here: tokens kernel -> window -> pair aggregate -> symmetric
    # union.
    from defactonlp_spark.functions.tokenize import tokenize_tokens
    from defactonlp_spark.operators.linkgraph import cooccurrence_edges

    tplan = plan_of(cooccurrence_edges(tokenize_tokens(docs)))
    ok &= check(
        "textrank co-occurrence graph (one tokenizer kernel -> window -> agg)",
        tplan,
        must=["MapInPandas", "HashAggregate", "Window", "Union"],
        must_not=["CartesianProduct", "ArrowEvalPython", "BatchEvalPython",
                  "BroadcastNestedLoopJoin"],
    )

    print("\nPLANS " + ("OK" if ok else "NOT OK"))
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
