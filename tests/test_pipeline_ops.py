"""Training-data pipeline operators: dedup recall/precision sanity, LSH ANN
vs brute force, multimodal plumbing, incremental streaming build."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from defactonlp_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_dup_pairs,
)
from defactonlp_spark.operators.similarity import cosine_topk, lsh_ann_topk


@pytest.fixture(scope="module")
def dup_corpus(spark):
    """40 base docs + exact dups + near dups (one token changed)."""
    rng = np.random.default_rng(42)
    vocab = [f"w{i}" for i in range(200)]
    rows = []
    for i in range(40):
        toks = list(rng.choice(vocab, size=60))
        rows.append((i, " ".join(toks)))
        if i < 5:  # exact dups
            rows.append((100 + i, " ".join(toks)))
        if 5 <= i < 10:  # near dups: flip one token
            toks2 = toks.copy()
            toks2[30] = "CHANGED"
            rows.append((200 + i, " ".join(toks2)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, dup_corpus):
    got = exact_dedup(dup_corpus).toPandas()
    assert int(got["n_dups"].sum()) == dup_corpus.count()
    assert (got["n_dups"] >= 2).sum() == 5
    reps = set(got[got.n_dups >= 2].rep_id)
    assert reps == {0, 1, 2, 3, 4}  # min doc_id wins


def test_jaccard_finds_near_dups(spark, dup_corpus):
    pairs = ngram_jaccard_pairs(dup_corpus, threshold=0.7).toPandas()
    got = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert {(i, 100 + i) for i in range(5)} <= got       # exact dups: jaccard 1.0
    assert {(i, 200 + i) for i in range(5, 10)} <= got   # near dups: ~0.9
    # unrelated random docs must not pair at 0.7
    assert all(b - a in (100, 195, 194, 193, 192, 191) or b >= 200 or a >= 100 for a, b in got) or len(got) <= 15


def test_minhash_lsh_recall(spark, dup_corpus):
    got = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(dup_corpus).collect()}
    # exact dups share all 16 minhashes -> every band collides
    assert {(i, 100 + i) for i in range(5)} <= got


def test_simhash_near_dups(spark, dup_corpus):
    got = {(r["id_a"], r["id_b"]) for r in simhash_dup_pairs(dup_corpus, max_hamming=2).collect()}
    assert {(i, 100 + i) for i in range(5)} <= got  # exact dups: hamming 0


def test_simhash_banded_join_is_exact_at_scale(spark):
    """The bit-band equi-join must return EXACTLY the Hamming<=h pairs on a
    corpus big enough that the old all-pairs join would be ~12.5M join rows.
    Oracle: numpy popcount over the collected signatures (|docs| rows — the
    signatures are tiny even when the pair space is not)."""
    from defactonlp_spark.operators.dedup import simhash

    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(300)]
    rows = []
    for i in range(0, 5000, 2):
        toks = list(rng.choice(vocab, size=30))
        rows.append((i, " ".join(toks)))
        toks2 = toks.copy()
        toks2[rng.integers(0, 30)] = "changed"  # near dup neighbor
        rows.append((i + 1, " ".join(toks2)))
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    sig = simhash(docs).persist()

    for h in (1, 2, 3):
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_dup_pairs(signatures=sig, max_hamming=h).collect()
        }
        pdf = sig.toPandas().sort_values("id")
        ids = pdf["id"].to_numpy(np.int64)
        s = pdf["simhash"].to_numpy(np.int64).astype(np.int32)  # 16-bit values
        xor = s[:, None] ^ s[None, :]
        ham = np.zeros_like(xor)
        for bit in range(16):
            ham += (xor >> bit) & 1
        ai, bi = np.nonzero(np.triu(ham <= h, k=1))
        want = {(int(ids[a]), int(ids[b]), int(ham[a, b])) for a, b in zip(ai, bi)}
        assert got == want, f"h={h}: {len(got)} vs {len(want)} pairs"
    assert len(want) > 100  # the corpus actually exercises the join
    sig.unpersist()


def test_jaccard_max_df_bounds_hot_shingle_blowup(spark):
    """One stop-shingle shared by every doc: uncapped, the shingle join emits
    n*(n-1)/2 rows for it; with max_df the hot shingle is dropped before the
    join while true near-dup pairs (which share many LOW-df shingles)
    survive with their jaccard nearly unchanged."""
    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(500)]
    hot = "alpha beta gamma"  # every doc starts with this 3-shingle
    rows = []
    for i in range(300):
        toks = list(rng.choice(vocab, size=40))
        rows.append((i, hot + " " + " ".join(toks)))
        if i < 10:  # near dups
            toks2 = toks.copy()
            toks2[20] = "changed"
            rows.append((1000 + i, hot + " " + " ".join(toks2)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = ngram_jaccard_pairs(docs, threshold=0.5, max_df=50).toPandas()
    got = {(a, b) for a, b in zip(capped.id_a, capped.id_b)}
    assert {(i, 1000 + i) for i in range(10)} <= got
    # docs unrelated except for the hot prefix must NOT meet: with the cap
    # their only shared shingles are dropped, so they never reach the
    # aggregate. (They'd each produce join rows uncapped.)
    assert all((b - a == 1000) for a, b in got)


def test_lsh_ann_vs_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    brute = cosine_topk(emb, [0, 1, 2], k=5).toPandas()
    # 4-bit LSH + Hamming-1 probes scans ~5/16 of the corpus; on random
    # gaussian vectors (weak neighbors) that still recovers ~half of top-5
    approx = lsh_ann_topk(emb, [0, 1, 2], k=5, dim=64, n_bits=4).toPandas()
    hits = 0
    for q in (0, 1, 2):
        b = set(brute[brute.query_id == q].vec_id)
        a = set(approx[approx.query_id == q].vec_id)
        hits += len(a & b)
    assert hits >= 6
    # and the scored candidates it does return carry EXACT cosines
    merged = brute.merge(approx, on=["query_id", "vec_id"], suffixes=("_b", "_a"))
    if len(merged):
        assert (merged.cos_b == merged.cos_a).all()


def test_lsh_dup_pairs_recall_and_exactness(spark):
    """lsh_dup_pairs must (a) return a subset of the exact all-pairs result
    with identical cosines, and (b) recover most of it at few bits (recall
    rises as n_bits falls; 2 bits + Hamming-1 probes covers ~85% of the
    collision probability mass for cos=0.35 random gaussians)."""
    from defactonlp_spark.operators.similarity import cosine_dup_pairs, lsh_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = cosine_dup_pairs(emb, threshold=0.35).toPandas()
    approx = lsh_dup_pairs(emb, threshold=0.35, n_bits=2).toPandas()
    e = {(a, b): c for a, b, c in zip(exact.id_a, exact.id_b, exact.cos)}
    a_ = {(a, b): c for a, b, c in zip(approx.id_a, approx.id_b, approx.cos)}
    assert set(a_) <= set(e), "approx returned a pair the exact op does not have"
    for k, c in a_.items():
        assert c == e[k], f"cosine mismatch on {k}"
    assert len(e) > 0
    assert len(a_) / len(e) >= 0.5, f"recall {len(a_)}/{len(e)} too low"


def test_multimodal_stub_plumbing(spark):
    from defactonlp_spark.functions.multimodal import (
        FEATURE_DIM,
        extract_media_features,
        frame_sample_plan,
    )

    rows = [
        (1, "image", b"\x89PNG fake bytes", "image/png", 32, 32, None),
        (2, "video", b"\x00\x00ftyp fake", "video/mp4", 640, 480, 3500),
        (3, "image", None, "image/png", 0, 0, None),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, mime string, width int, height int, duration_ms long",
    )
    feats = extract_media_features(media, fake=True).toPandas().sort_values("media_id")
    assert list(feats.media_id) == [1, 2, 3]
    assert all(len(f) == FEATURE_DIM for f in feats.features)
    # deterministic: same payload -> same features
    feats2 = extract_media_features(media, fake=True).toPandas().sort_values("media_id")
    assert [list(f) for f in feats.features] == [list(f) for f in feats2.features]

    plan = frame_sample_plan(media, every_ms=1000).collect()
    assert [(r["media_id"], r["frame_ts_ms"]) for r in plan] == [(2, 0), (2, 1000), (2, 2000)]

    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        extract_media_features(media, fake=False).collect()


def test_incremental_streaming_build(spark, tmp_path):
    import pandas as pd

    from defactonlp_spark.sources.fixtures import gen_webpages
    from defactonlp_spark.streaming.incremental import start_incremental_build
    from defactonlp_spark.sources.tableio import LocalTable

    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    import os

    os.makedirs(in_dir)
    pdf = gen_webpages(n=40, seed=21, dup_frac=0.0)
    pdf["doc_id"] = range(len(pdf))
    pdf[["doc_id", "text"]].iloc[:20].to_parquet(f"{in_dir}/a.parquet")
    pdf[["doc_id", "text"]].iloc[20:].to_parquet(f"{in_dir}/b.parquet")

    schema = "doc_id long, text string"
    q = start_incremental_build(spark, in_dir, out_dir, schema)
    q.awaitTermination(120)

    table = LocalTable(f"{out_dir}/segments")
    seg = table.read(spark)
    decoded_docs = seg.selectExpr("n").agg(F.sum("n")).collect()[0][0]
    assert decoded_docs > 0
    # every doc indexed exactly once across generations
    from defactonlp_spark.plans.query import decode_segments

    ids = decode_segments(seg).select("doc_id").distinct()
    assert ids.count() == 40


def test_ivf_ann_vs_bruteforce(spark):
    """IVF = learned coarse quantizer; at n_probe/n_centroids = 4/8 it scans
    ~half the corpus and must beat LSH's recall at the same scan fraction on
    the gaussian fixture; returned candidates carry EXACT cosines."""
    from defactonlp_spark.operators.similarity import ivf_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    brute = cosine_topk(emb, [0, 1, 2], k=5).toPandas()
    approx = ivf_ann_topk(emb, [0, 1, 2], k=5, n_centroids=8, n_probe=4).toPandas()
    hits = 0
    for q in (0, 1, 2):
        b = set(brute[brute.query_id == q].vec_id)
        a = set(approx[approx.query_id == q].vec_id)
        hits += len(a & b)
    assert hits >= 8, f"IVF recall too low: {hits}/15"
    merged = brute.merge(approx, on=["query_id", "vec_id"], suffixes=("_b", "_a"))
    if len(merged):
        assert (merged.cos_b == merged.cos_a).all()


@pytest.mark.parametrize("arrow", ["false", "true"])
def test_ivf_ann_null_query_vector(spark, arrow):
    """A query id whose vector is NULL returns no rows; the other queries
    return exactly the rows of a run without it. Checked with Arrow off
    too, as a bare SparkSession runs."""
    from defactonlp_spark.operators.similarity import ivf_ann_topk

    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        mat = np.random.default_rng(3).standard_normal((200, 16))
        dirty = spark.createDataFrame(
            [(i, None if i == 1 else v.tolist()) for i, v in enumerate(mat)],
            "vec_id long, embedding array<float>",
        )

        def rows(qids):
            df = ivf_ann_topk(dirty, qids, k=5, n_centroids=8, n_probe=4).toPandas()
            return df.sort_values(["query_id", "rank"]).reset_index(drop=True)

        got, ref = rows([0, 1, 2]), rows([0, 2])
        assert set(got.query_id) == {0, 2}
        assert 1 not in set(got.vec_id)
        pd.testing.assert_frame_equal(got, ref)
    finally:
        spark.conf.set(key, prev)


def test_ivf_train_deterministic(spark):
    """Same input -> bit-identical quantizer (smallest-ids sample + strided
    init + fixed iteration count; no RNG), across repeated trainings."""
    import numpy as np
    from defactonlp_spark.operators.similarity import ivf_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = ivf_train(emb, n_centroids=8, n_iters=3)
    c2 = ivf_train(emb, n_centroids=8, n_iters=3)
    assert np.array_equal(c1, c2)
    assert c1.shape == (8, 64)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_lsh_bucket_kernel_matches_expr(spark):
    """The vectorized bucket kernel must produce bit-identical buckets to
    the lsh_bucket_expr executable spec (same planes, same float order)."""
    from pyspark.sql import functions as F
    from defactonlp_spark.operators.similarity import lsh_bucket_expr, with_lsh_bucket

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    expr = emb.withColumn("bucket", lsh_bucket_expr(F.col("embedding"), 64, 8)) \
        .select("vec_id", "bucket").toPandas().set_index("vec_id")["bucket"]
    kern = with_lsh_bucket(emb, "embedding", 64, 8) \
        .select("vec_id", "bucket").toPandas().set_index("vec_id")["bucket"]
    assert expr.sort_index().equals(kern.sort_index())


def test_vector_kernels_null_tolerant(spark):
    """NULL embeddings must degrade to NULL bucket/cell/probes (dropped rows
    downstream), not crash np.stack (ADVICE r2)."""
    import numpy as np
    from pyspark.sql import functions as F
    from defactonlp_spark.operators.similarity import (
        ivf_train,
        with_ivf_cell,
        with_lsh_bucket,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dirty = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 0, F.lit(None)).otherwise(F.col("embedding")),
    )
    b = with_lsh_bucket(dirty, "embedding", 64, 8).select("vec_id", "bucket").toPandas()
    nulls = b["bucket"].isna()
    assert (b.loc[nulls, "vec_id"] % 7 == 0).all() and nulls.any() and (~nulls).any()
    cents = ivf_train(emb, n_centroids=8)
    c = with_ivf_cell(dirty, cents).select("vec_id", "cell").toPandas()
    cn = c["cell"].isna()
    assert (c.loc[cn, "vec_id"] % 7 == 0).all() and cn.sum() == nulls.sum()
    # all-null batch edge: kernel must not touch np.stack at all
    allnull = spark.createDataFrame(
        [(1,), (2,)], "vec_id long"
    ).withColumn("embedding", F.lit(None).cast("array<float>"))
    assert with_lsh_bucket(allnull, "embedding", 64, 8).filter(
        F.col("bucket").isNotNull()
    ).count() == 0


def test_split_deterministic_and_partition_independent(spark):
    """The md5 split must be a pure function of doc_id: identical under any
    repartitioning, and weights approximately honored."""
    from defactonlp_spark.operators.curation import with_split

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = with_split(docs).select("doc_id", "split").toPandas().set_index("doc_id")["split"]
    b = (
        with_split(docs.repartition(13))
        .select("doc_id", "split")
        .toPandas()
        .set_index("doc_id")["split"]
    )
    assert a.sort_index().equals(b.sort_index())
    frac = (a == "train").mean()
    assert 0.6 < frac < 0.95  # 80% nominal, small-sample slack


def test_source_stats_dup_rate(spark):
    """dup_rate reflects injected exact duplicates."""
    import pandas as pd
    from defactonlp_spark.operators.curation import source_stats

    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": ["same", "same", "same", "u1", "u2", "u3"],
            "source": ["a", "a", "a", "b", "b", "b"],
        }
    )
    got = source_stats(spark.createDataFrame(pdf)).toPandas().set_index("source")
    assert got.loc["a", "distinct_texts"] == 1 and abs(got.loc["a", "dup_rate"] - (1 - 1 / 3)) < 1e-6
    assert got.loc["b", "dup_rate"] == 0.0


def test_shingle_kernel_matches_sql_expr(spark, dup_corpus):
    """The Arrow-batched shingle kernel (fast path) must be byte-identical,
    order included, to the pure-Catalyst expression that documents the
    shingle definition (and mirrors the DuckDB oracle SQL)."""
    from defactonlp_spark.operators.dedup import shingles_col, shingles_sql_col

    edge = spark.createDataFrame(
        [(900, ""), (901, "one two"), (902, "one two three"), (903, "A a!a  b")],
        "doc_id long, text string",
    )
    docs = dup_corpus.unionByName(edge)
    for n in (2, 3):
        a = docs.select("doc_id", shingles_col(n).alias("sh"))
        b = docs.select("doc_id", shingles_sql_col(n).alias("sh"))
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_textstats_kernels_match_sql_exprs(spark, dup_corpus):
    """fingerprint/lang_id Arrow kernels must be byte-identical to their
    pure-Catalyst twins (which mirror the DuckDB oracle SQL)."""
    from defactonlp_spark.functions.textstats import (
        fingerprint,
        fingerprint_sql,
        lang_id,
        lang_id_sql,
    )

    edge = spark.createDataFrame(
        [(900, ""), (901, "abc"), (902, "abcd"), (903, "abcde"), (904, "The THE the of foo"), (905, None)],
        "doc_id long, text string",
    )
    docs = dup_corpus.unionByName(edge)
    for fast, slow in ((fingerprint, fingerprint_sql), (lang_id, lang_id_sql)):
        a, b = fast(docs), slow(docs)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_minhash_kernel_matches_sql_expr(spark, dup_corpus):
    """The minhash Arrow kernel must be byte-identical to its pure-Catalyst
    twin (which mirrors the DuckDB oracle): same tokens, same shingles, same
    md5-derived base hash, same permutation arithmetic — including docs too
    short to shingle (NO row) and null text."""
    from defactonlp_spark.operators.dedup import (
        minhash_signature,
        minhash_signature_sql,
    )

    edge = spark.createDataFrame(
        [(900, ""), (901, "one two"), (902, "one two three"), (903, None),
         (904, "A a!a  b c D")],
        "doc_id long, text string",
    )
    docs = dup_corpus.unionByName(edge)
    a, b = minhash_signature(docs), minhash_signature_sql(docs)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
