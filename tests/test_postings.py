"""Posting construction + stats + salting over the driver documents table."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from defactonlp_spark.config import EngineConfig
from defactonlp_spark.functions.tokenize import tokenize_one
from defactonlp_spark.operators import postings as P

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def postings(spark, docs):
    return P.build_postings(docs).cache()


def test_postings_match_bruteforce(docs, postings):
    pdf = docs.select("doc_id", "text").toPandas()
    expect = {}
    for r in pdf.itertuples(index=False):
        for t, c in Counter(tokenize_one(r.text)).items():
            expect[(t, r.doc_id)] = c
    got = postings.toPandas()
    assert len(got) == len(expect)
    for r in got.itertuples(index=False):
        assert expect[(r.term, r.doc_id)] == r.tf


def test_term_stats_df(postings):
    stats = {r["term"]: r["df"] for r in P.term_stats(postings).collect()}
    brute = postings.groupBy("term").agg(F.countDistinct("doc_id").alias("d")).collect()
    for r in brute:
        assert stats[r["term"]] == r["d"]


def test_corpus_stats(docs, postings):
    cs = P.corpus_stats(postings).collect()[0]
    pdf = docs.select("text").toPandas()
    dls = [len(tokenize_one(t)) for t in pdf["text"]]
    assert cs["n_docs"] == len([d for d in dls if d > 0])
    assert cs["total_tokens"] == sum(dls)
    assert abs(cs["avgdl"] - sum(dls) / len(dls)) < 1e-9


def test_salting_disjoint_and_complete(postings):
    """encode_segments salts head terms itself: one segment row per
    (term, salt) sub-list, and a term's slices partition its postings."""
    from defactonlp_spark.operators.segments import encode_segments

    cfg = EngineConfig(n_salts=4, salt_df_ratio=0.10)
    stats = P.term_stats(postings)
    n_docs = postings.select("doc_id").distinct().count()
    thresh = max(int(n_docs * cfg.salt_df_ratio), 1)
    df = {r["term"]: r["df"] for r in stats.collect()}
    seg = encode_segments(postings, stats, n_docs, 50.0, cfg, 4)
    seg = seg.select("term", "salt", "n").toPandas()
    # salt in range, and only head terms (df > thresh) are split
    assert ((seg["salt"] >= 0) & (seg["salt"] < 4)).all()
    split = set(seg.loc[seg["salt"] != 0, "term"])
    assert split and all(df[t] > thresh for t in split)
    assert (seg["term"] == "the").sum() == 4  # Zipf head of the fixture vocab
    # salt is doc_id % n_salts -> each (term, doc) lands in exactly one slice
    assert seg.groupby("term")["n"].sum().to_dict() == df


def test_latest_per_url_and_doc_ids(spark):
    from defactonlp_spark.sources.fixtures import gen_webpages

    pdf = gen_webpages(n=100, seed=3, dup_frac=0.10)
    df = spark.createDataFrame(pdf)
    latest = P.latest_per_url(df)
    assert latest.count() == 100
    # recrawled urls must keep the +7d text (ends with 'recrawl')
    recrawled = {r.url for r in pdf[pdf.text.str.endswith("recrawl")].itertuples(index=False)}
    kept = {r["url"] for r in latest.filter(F.col("text").endswith("recrawl")).collect()}
    assert kept == recrawled

    with_ids = P.assign_doc_ids(latest, "global")
    ids = [r["doc_id"] for r in with_ids.orderBy("url").collect()]
    assert ids == list(range(100))  # dense, deterministic by url

    part_ids = P.assign_doc_ids(latest, "partitioned")
    assert part_ids.select("doc_id").distinct().count() == 100


def test_latest_per_url_null_ts_and_ties(spark):
    """NULL warc_ts must not drop a url's payload (null-safe ordering key),
    non-null must beat null, and exact-timestamp ties must resolve
    deterministically across runs."""
    import datetime as dt

    t1 = dt.datetime(2024, 1, 1)
    t2 = dt.datetime(2024, 6, 1)
    rows = [
        ("u_nulls", None, "only-null-a"),
        ("u_nulls", None, "only-null-b"),
        ("u_mixed", None, "null-row"),
        ("u_mixed", t1, "real-row"),
        ("u_tie", t2, "tie-a"),
        ("u_tie", t2, "tie-b"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    got = {r["url"]: r["text"] for r in P.latest_per_url(df).collect()}
    assert got["u_nulls"] in ("only-null-a", "only-null-b")  # real payload, not NULL
    assert got["u_mixed"] == "real-row"
    tie_winner = got["u_tie"]
    for _ in range(3):  # deterministic under reshuffle
        again = {r["url"]: r["text"] for r in P.latest_per_url(df.repartition(7)).collect()}
        assert again == got
    assert tie_winner in ("tie-a", "tie-b")


def test_bucket_boundaries_driver_vs_distributed_cut(spark):
    """Both bucket-cut paths must produce the identical boundary list —
    including at exact boundary multiples where float division could floor
    into the wrong bucket (integer `div` semantics in the SQL path)."""
    from defactonlp_spark.plans.build import bucket_boundaries

    # dfs engineered so cumulative masses hit exact multiples of total/n:
    # 8 terms of df=5 -> total=40, n_buckets=4 -> boundary every 10 exactly
    rows = [(f"t{i:02d}", 5) for i in range(8)]
    # plus a skewed tail
    rows += [(f"z{i:02d}", 1 + (i % 3) * 7) for i in range(20)]
    stats = spark.createDataFrame(rows, "term string, df long")
    for n_buckets in (2, 4, 7):
        drv = bucket_boundaries(stats, n_buckets, n_terms_hint=len(rows))
        dist = bucket_boundaries(stats, n_buckets, n_terms_hint=10**9)
        assert drv == dist, f"n_buckets={n_buckets}: {drv} != {dist}"


def test_bucket_expr_matches_driver_bisect(spark):
    """Every query path prunes bucket files with a DRIVER-side bucket
    computation (plans/build.py::buckets_for_terms, a bisect over the
    manifest boundaries, via operators/wand.py::prune_to_terms) while the
    build assigns buckets with the CATALYST expression (bucket_expr). If
    they ever disagree, the bucket IN filter silently drops segment slices —
    so pin equality over edge terms: below the first boundary, equal to each
    boundary, between boundaries, past the last, empty string, unicode."""
    from pyspark.sql import functions as F

    from defactonlp_spark.plans.build import bucket_expr, buckets_for_terms

    boundaries = ["apple", "gamma", "merge", "table"]
    terms = [
        "", "a", "apple", "applf", "b", "gamma", "gammz", "lion", "merge",
        "mergf", "spark", "table", "tablf", "zzzz", "épée", "漢",
    ]
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    got = {
        r["term"]: r["b"]
        for r in df.withColumn("b", bucket_expr(boundaries)).collect()
    }
    for t in terms:
        (want,) = buckets_for_terms(boundaries, [t])
        assert got[t] == want, (t, got[t], want)
