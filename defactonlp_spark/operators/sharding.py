"""Doc-sharded index build + serving — the 1000-executor deployment shape.

At 10^12 docs one logical segment table per term is the wrong serving
topology: every query's Zipf-head slices are corpus-sized, so per-query
latency is bound by the biggest term in the whole corpus. Production
engines (ES/Solr/Vespa) shard BY DOCUMENT instead: each shard holds the
postings of its doc subset, a query fans out to all shards, each computes
a shard-local top-k, and a merge step keeps the global k. Because a doc's
BM25 score depends only on (tf, dl) of that doc and GLOBAL (df, N, avgdl),
shard-local top-k lists merge to the EXACT global top-k — provably, since
the global winners each rank in their own shard's local top-k. That makes
the sharded path rank-and-score identical to the unsharded one (the driver
checks it against the same exhaustive-BM25 oracle as ``bm25_topk``).

Spark-native realization: the shard id folds into the existing ``salt``
grouping column (``salt' = salt * n_shards + doc_id % n_shards``), so
``encode_segments``'s one range shuffle + streaming encode kernel is reused
unchanged — each (term, shard) sub-list becomes its own delta+varbyte
slice, sorted by doc_id, with the GLOBAL df stored (stats are computed
before sharding). Serving fans the claim kernel groups out per shard via
a (group, shard) cogroup key: each kernel call sees only its shard's blobs
(on a real cluster: only that shard's executors' local slices), and one
window over the |claims| x n_shards x k local winners keeps the global k.

Scale notes:
- the merge input is O(claims * shards * k) — thousands of rows per batch,
  never corpus-shaped;
- shard-local WAND thresholds grow from local results only, so pruning is
  somewhat weaker than a global heap — the price every fan-out engine pays;
- skew salting composes (a head term split into S salts in a shard is just
  S slices of that shard's cursor set);
- tombstones compose (the kernel masks after block decode, per shard).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from defactonlp_spark.config import EngineConfig
from defactonlp_spark.operators.segments import encode_segments


def with_shard_salt(salted_postings: DataFrame, n_shards: int) -> DataFrame:
    """Fold a deterministic doc shard id into the salt grouping column.

    ``salt' = salt * n_shards + pmod(doc_id, n_shards)`` — recoverable as
    ``shard = pmod(salt', n_shards)``, and each (term, salt') group is one
    shard's (sub-)list, so the unmodified encode kernel emits per-shard
    slices."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    return salted_postings.withColumn(
        "salt",
        (F.col("salt") * n_shards + F.pmod(F.col("doc_id"), n_shards)).cast("int"),
    )


def encode_sharded_segments(
    salted_postings: DataFrame,
    stats_df: DataFrame,
    n_docs: int,
    avgdl: float,
    cfg: EngineConfig,
    n_shards: int,
    n_partitions: int | None = None,
) -> DataFrame:
    """Segment table with an explicit ``shard`` column (doc_id % n_shards).

    Same physical plan as the unsharded build — ONE repartitionByRange on
    (term, salt') + streaming encode — because the shard id rides the salt
    column. ``stats_df`` / ``n_docs`` / ``avgdl`` must be GLOBAL (computed
    before sharding): that is what makes shard-local scores globally
    comparable. A deployment would write this table hive-partitioned by
    shard so each serving executor group reads only its shard's files.
    """
    seg = encode_segments(
        with_shard_salt(salted_postings, n_shards),
        stats_df, n_docs, avgdl, cfg, n_partitions,
    )
    return seg.withColumn("shard", F.pmod(F.col("salt"), F.lit(n_shards)).cast("int"))


def wand_topk_sharded(
    segments: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    n_shards: int,
    k: int = 5,
    cfg: EngineConfig = EngineConfig(),
    deletes: np.ndarray | None = None,
) -> DataFrame:
    """Fan-out/merge top-k over a sharded segment table (``shard`` column).

    Delegates the batching/pruning/kernel machinery to
    :func:`defactonlp_spark.operators.wand.wand_topk` with the (group,
    shard) cogroup key; see module docstring for the exactness argument.
    """
    from defactonlp_spark.operators.wand import wand_topk

    if "shard" not in segments.columns:
        raise ValueError("sharded serving needs a 'shard' column — "
                         "build with encode_sharded_segments")
    return wand_topk(
        segments, qterms, n_docs, avgdl, k=k, cfg=cfg, deletes=deletes,
        n_shards=n_shards,
    )
