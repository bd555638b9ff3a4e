"""A build's bookkeeping tables (checkpoints, metrics, manifest, tombstones)
keep their column types whether or not the session has Arrow enabled: the
rows are built from pandas, which a bare session converts row by row."""

import os

import pytest

from defactonlp_spark.config import EngineConfig
from defactonlp_spark.plans.build import IndexBuild, IndexReader, delete_docs
from defactonlp_spark.sources.tableio import LocalTable

CHECKPOINT_TYPES = [
    ("build_id", "string"), ("partition_id", "int"), ("term_lo", "string"),
    ("term_hi", "string"), ("status", "string"), ("input_snapshot", "string"),
    ("rows", "bigint"), ("bytes", "bigint"), ("wall_ms", "bigint"),
]
METRICS_TYPES = [
    ("build_id", "string"), ("partition_id", "int"), ("postings_per_sec", "double"),
    ("rows", "bigint"), ("bytes", "bigint"), ("wall_ms", "bigint"), ("ts", "double"),
]


@pytest.mark.parametrize("arrow", ["false", "true"])
def test_bookkeeping_tables_keep_types(spark, tmp_path, arrow):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        corpus = spark.createDataFrame(
            [(i, f"alpha beta doc{i} gamma {'beta ' * (i % 3)}") for i in range(12)],
            "doc_id long, text string",
        )
        out = str(tmp_path / "idx")
        props = IndexBuild(out, EngineConfig(n_buckets=3), build_id="bk", n_groups=2).run(
            spark, corpus, input_snapshot="snap"
        )
        assert props["n_docs"] == 12

        def table(name):
            return LocalTable(os.path.join(out, name)).read(spark)

        ck = table("checkpoints")
        assert [(f, t) for f, t in ck.dtypes if f != "bucket"] == CHECKPOINT_TYPES
        got = ck.orderBy("partition_id").collect()
        assert [r["partition_id"] for r in got] == [0, 1, 2]
        assert {r["status"] for r in got} == {"done"}
        assert sum(r["rows"] for r in got) == spark.read.parquet(os.path.join(out, "postings")).count()

        m = table("metrics")
        assert m.dtypes == METRICS_TYPES
        assert m.count() == 3

        man = table("manifest")
        assert man.dtypes == [("build_id", "string")]
        assert [r["build_id"] for r in man.collect()] == ["bk"]

        delete_docs(spark, out, [3, 5])
        delete_docs(spark, out, [])
        assert sorted(IndexReader(spark, out).deletes_array().tolist()) == [3, 5]
        assert table("deletes").dtypes == [("doc_id", "bigint")]
    finally:
        spark.conf.set(key, prev)
