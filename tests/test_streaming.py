"""Incremental index refresh (streaming/incremental.py).

Contract under test:
- each micro-batch appends one segment GENERATION to the segments table
  (LSM pattern, Trigger.AvailableNow + foreachBatch);
- the stream checkpoint makes re-runs incremental: a second AvailableNow
  drain processes ONLY files that arrived after the first drain;
- compaction (merge_segments over all generations) equals a single-shot
  batch build of the full corpus, posting-for-posting.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from defactonlp_spark.config import EngineConfig
from defactonlp_spark.operators.postings import build_postings, corpus_stats, term_stats
from defactonlp_spark.operators.segments import encode_segments, merge_segments
from defactonlp_spark.plans.query import decode_segments
from defactonlp_spark.sources.tableio import LocalTable
from defactonlp_spark.streaming.incremental import start_incremental_build

CORPUS_SCHEMA = "doc_id long, text string"
CFG = EngineConfig(n_buckets=4)


def _write_batch(dirpath: str, name: str, rows: list[tuple[int, str]], spark):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {"doc_id": pa.array([r[0] for r in rows], pa.int64()),
         "text": pa.array([r[1] for r in rows], pa.string())}
    )
    pq.write_table(tbl, os.path.join(dirpath, f"{name}.parquet"))


def _docs(lo: int, hi: int) -> list[tuple[int, str]]:
    return [(i, f"merge join term{i % 7} batch window term{i % 11} spark") for i in range(lo, hi)]


@pytest.fixture()
def dirs(tmp_path):
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    os.makedirs(inp)
    return inp, out


def _drain(spark, inp, out):
    q = start_incremental_build(
        spark, inp, out, CORPUS_SCHEMA, cfg=CFG,
        reader_options={"maxFilesPerTrigger": "1"},
    )
    q.awaitTermination()


def test_incremental_generations_and_resume(spark, dirs):
    inp, out = dirs
    _write_batch(inp, "b0", _docs(0, 40), spark)
    _write_batch(inp, "b1", _docs(40, 80), spark)
    _drain(spark, inp, out)

    table = LocalTable(f"{out}/segments")
    snap1 = table.current_snapshot()
    seg1 = table.read(spark)
    # maxFilesPerTrigger=1 -> one generation per input file
    docs_seen = decode_segments(seg1).select("doc_id").distinct().count()
    assert docs_seen == 80

    # second drain with NO new files: checkpoint makes it a no-op
    _drain(spark, inp, out)
    snap2 = table.current_snapshot()
    assert snap2.snapshot_id == snap1.snapshot_id, "no-op drain must not commit"

    # late-arriving file: only IT is processed, appending one generation
    _write_batch(inp, "b2", _docs(80, 100), spark)
    _drain(spark, inp, out)
    seg3 = table.read(spark)
    assert decode_segments(seg3).select("doc_id").distinct().count() == 100
    # previously-encoded generations unchanged (append-only): old doc postings identical
    old_now = decode_segments(seg3).filter(F.col("doc_id") < 80)
    old_before = decode_segments(seg1)
    assert old_now.exceptAll(old_before).count() == 0
    assert old_before.exceptAll(old_now).count() == 0


def test_compaction_equals_batch_build(spark, dirs):
    inp, out = dirs
    _write_batch(inp, "b0", _docs(0, 40), spark)
    _write_batch(inp, "b1", _docs(40, 90), spark)
    _drain(spark, inp, out)

    generations = LocalTable(f"{out}/segments").read(spark)

    full = spark.createDataFrame(_docs(0, 90), CORPUS_SCHEMA)
    postings = build_postings(full)
    cs = corpus_stats(postings).collect()[0]
    n_docs, avgdl = int(cs["n_docs"]), float(cs["avgdl"])

    merged = merge_segments(generations, n_docs, avgdl, CFG)

    stats = term_stats(postings)
    single = encode_segments(postings, stats, n_docs, avgdl, CFG, 4)
    # posting-for-posting equality after decode (segment row layout may group
    # salts differently between the two paths; the decoded postings must not)
    a = decode_segments(merged)
    b = decode_segments(single)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
