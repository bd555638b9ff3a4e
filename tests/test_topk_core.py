"""The shared retrieval-scoring core (operators/bm25.py::score_terms, topk):
rank-key rounding, short groups, and the vector-shaped call that the
similarity operators make."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from defactonlp_spark.operators.bm25 import score_terms, topk


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_topk_dp_rounds_the_rank_key(spark):
    # scores differ by 3e-7 (< 5e-7): equal at 6 dp, so dp=6 ranks by doc_id
    # while dp=None ranks by the raw (higher) score
    scored = spark.createDataFrame(
        [(1, 10, 0.1234561), (1, 20, 0.1234564)], "claim_id long, doc_id long, score double"
    )
    rounded = topk(scored, 2, 6).orderBy("rank").collect()
    raw = topk(scored, 2, None).orderBy("rank").collect()
    assert [r["doc_id"] for r in rounded] == [10, 20]
    assert [r["doc_id"] for r in raw] == [20, 10]
    # the score column is reported raw either way
    assert [r["score"] for r in rounded] == [0.1234561, 0.1234564]
    assert list(rounded[0].asDict()) == ["claim_id", "rank", "doc_id", "score"]


def test_topk_k_larger_than_group(spark):
    scored = spark.createDataFrame(
        [(1, 5, 3.0), (1, 6, 2.0), (1, 7, 1.0), (2, 9, 0.5)],
        "claim_id long, doc_id long, score double",
    )
    got = topk(scored, 10, None)
    assert _rows(got, ["claim_id", "rank", "doc_id"]) == [
        (1, 1, 5), (1, 2, 6), (1, 3, 7), (2, 1, 9),
    ]


def test_topk_vector_shape_matches_inline_window(spark):
    rows = [
        (q, v, round(((q * 7 + v * 13) % 11) / 11.0, 6))
        for q in (1, 2, 3) for v in range(12) if v != q
    ]
    scored = spark.createDataFrame(rows, "query_id long, item long, cos double")
    k = 4
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("item"))
    inline = (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", F.col("item").alias("vec_id"), "cos")
    )
    got = topk(
        scored, k, None,
        cols=("query_id", "rank", F.col("item").alias("vec_id"), "cos"),
        key="cos", part="query_id", tie="item",
    )
    assert got.columns == inline.columns == ["query_id", "rank", "vec_id", "cos"]
    cols = inline.columns
    assert _rows(got, cols) == _rows(inline, cols)
    assert len(_rows(got, cols)) == 3 * k


def test_score_terms_sum_plus_extra_aggregates(spark):
    postings = spark.createDataFrame(
        [("a", 1, 2, 10), ("b", 1, 1, 10), ("a", 2, 1, 5), ("c", 2, 4, 5)],
        "term string, doc_id long, tf int, dl int",
    )
    q = spark.createDataFrame(
        [(7, "a", 0.5), (7, "b", 2.0)], "claim_id long, term string, w double"
    )
    contrib = F.col("w") * F.col("tf").cast("double")
    got = score_terms(
        postings, q, contrib, F.max("contrib").alias("mx"), F.count(F.lit(1)).alias("n")
    )
    assert _rows(got, ["claim_id", "doc_id", "score", "mx", "n"]) == [
        (7, 1, 3.0, 2.0, 2),
        (7, 2, 0.5, 0.5, 1),
    ]
