"""Doc-sharded serving (operators/sharding.py): the fan-out/merge path must
be rank-and-score identical to unsharded WAND (and hence to the exhaustive
oracle) — shard-local top-k with GLOBAL stats merges to the exact global
top-k. Checked bit-exact at several shard counts, including n_shards=1
(degenerate fan-out) and with skew salting active."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from defactonlp_spark.config import EngineConfig
from defactonlp_spark.operators.postings import (
    build_postings,
    corpus_stats,
    term_stats,
)
from defactonlp_spark.operators.sharding import (
    encode_sharded_segments,
    wand_topk_sharded,
)
from defactonlp_spark.operators.segments import encode_segments
from defactonlp_spark.operators.wand import wand_topk
from defactonlp_spark.sources.fixtures import gen_claims, gen_webpages

K = 5


@pytest.fixture(scope="module")
def corpus_bits(spark):
    pages = spark.createDataFrame(gen_webpages(n=400, seed=7))
    from defactonlp_spark.plans.build import prepare_webpages

    corpus = prepare_webpages(pages)
    cfg = EngineConfig(n_buckets=8)
    p = build_postings(corpus).persist()
    row = corpus_stats(p).collect()[0]
    n_docs, avgdl = int(row["n_docs"]), float(row["avgdl"])
    stats = term_stats(p)
    claims = spark.createDataFrame(gen_claims(n=40)[["claim_id", "claim"]])
    from defactonlp_spark.operators.bm25 import claim_terms

    qt = claim_terms(claims).persist()
    base = wand_topk(
        encode_segments(p, stats, n_docs, avgdl, cfg, 8),
        qt, n_docs, avgdl, k=K, cfg=cfg,
    ).toPandas()
    return p, stats, n_docs, avgdl, cfg, qt, base


def _by_claim(pdf):
    return {
        cid: [(int(r.doc_id), float(r.score)) for r in g.sort_values("rank").itertuples()]
        for cid, g in pdf.groupby("claim_id")
    }


@pytest.mark.parametrize("n_shards", [1, 4])
def test_sharded_bitexact_vs_unsharded(spark, corpus_bits, n_shards):
    postings, stats, n_docs, avgdl, cfg, qt, base = corpus_bits
    seg = encode_sharded_segments(postings, stats, n_docs, avgdl, cfg, n_shards, 8)
    got = wand_topk_sharded(seg, qt, n_docs, avgdl, n_shards, k=K, cfg=cfg).toPandas()
    b, g = _by_claim(base), _by_claim(got)
    assert set(b) == set(g)
    checked = 0
    for cid in b:
        assert [d for d, _ in g[cid]] == [d for d, _ in b[cid]], f"claim {cid}"
        for (d1, s1), (_, s2) in zip(g[cid], b[cid]):
            assert s1 == s2, f"claim {cid} doc {d1}: {s1!r} != {s2!r}"
            checked += 1
    assert checked > 100


def test_shard_column_partitions_docs(spark, corpus_bits):
    """Every posting of a shard's slices belongs to that shard's doc set
    (doc_id % n_shards == shard), and the decoded union over shards equals
    the unsharded postings exactly."""
    from defactonlp_spark.plans.query import decode_segments

    postings, stats, n_docs, avgdl, cfg, _, _ = corpus_bits
    seg = encode_sharded_segments(postings, stats, n_docs, avgdl, cfg, 4, 8).persist()
    assert sorted(r["shard"] for r in seg.select("shard").distinct().collect()) == [0, 1, 2, 3]
    total = 0
    for s in range(4):
        dec = decode_segments(seg.filter(F.col("shard") == s))
        bad = dec.filter(F.pmod(F.col("doc_id"), F.lit(4)) != s).count()
        assert bad == 0, f"shard {s} holds foreign docs"
        total += dec.count()
    plain = decode_segments(
        encode_segments(postings, stats, n_docs, avgdl, cfg, 8)
    ).count()
    assert total == plain
    seg.unpersist()


def test_sharded_with_deletes_masks(spark, corpus_bits):
    """Tombstones compose with the fan-out: deleted docs appear in no
    shard's local top-k, and the merged list re-fills from live docs with
    scores identical to unsharded masked serving."""
    postings, stats, n_docs, avgdl, cfg, qt, base = corpus_bits
    seg = encode_sharded_segments(postings, stats, n_docs, avgdl, cfg, 3, 8)
    dead = np.array(sorted({d for v in _by_claim(base).values() for d, _ in v[:1]}),
                    dtype=np.int64)
    got = wand_topk_sharded(
        seg, qt, n_docs, avgdl, 3, k=K, cfg=cfg, deletes=dead
    ).toPandas()
    ref = wand_topk(
        encode_segments(postings, stats, n_docs, avgdl, cfg, 8),
        qt, n_docs, avgdl, k=K, cfg=cfg, deletes=dead,
    ).toPandas()
    assert not set(got["doc_id"]).intersection(set(dead.tolist()))
    b, g = _by_claim(ref), _by_claim(got)
    assert b == g
