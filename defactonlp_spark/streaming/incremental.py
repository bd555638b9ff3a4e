"""Incremental index refresh via Structured Streaming.

The north rule is batch (build + resume); the reference has no streaming at
all (SURVEY.md §2.C). This module is the documented scale path for CONTINUOUS
corpora: new page files land in a directory, each micro-batch becomes a new
SEGMENT GENERATION appended to the segments table, and a periodic
:func:`publish_generations` compacts them into a serveable index (the LSM
pattern) through the same compaction core and manifest writer as
``plans.build.merge_builds`` (``plans.build.compact_generations``).

Design notes:
- ``Trigger.AvailableNow`` drains what exists and stops — the right trigger
  for scheduled incremental builds (no long-running driver);
- ``foreachBatch`` gives each micro-batch a normal batch DataFrame, so the
  EXACT batch encode path (tokenize -> encode_segments, which salts head
  terms itself) is reused — no second implementation to keep in sync;
- corpus stats (N, avgdl) drift as generations accumulate; block-max scores
  are recomputed from the merged stats at compaction time (the compaction
  core's re-encode does this), so WAND bounds stay sound after every
  compaction.
  Between compactions, queries use the manifest stats of the last
  compaction — scores are consistent, coverage lags by <1 generation.
- no event-time windows/watermarks are needed: the index is an append-only
  monoid, not a windowed aggregation. Late files simply join the next batch.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

from defactonlp_spark.config import EngineConfig
from defactonlp_spark.operators import postings as P
from defactonlp_spark.operators.segments import encode_segments
from defactonlp_spark.plans.build import compact_generations
from defactonlp_spark.sources.tableio import LocalTable


def start_incremental_build(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    schema,
    cfg: EngineConfig | None = None,
    checkpoint_dir: str | None = None,
    reader_options: dict[str, str] | None = None,
):
    """Stream parquet page files from ``input_dir``; append one segment
    generation per micro-batch. Returns the StreamingQuery (AvailableNow).

    ``reader_options``: file-source options (e.g. ``maxFilesPerTrigger`` to
    bound micro-batch size — at scale one generation per ~N files keeps the
    per-batch encode shuffle small and the compaction cadence predictable).
    """
    cfg = cfg or EngineConfig()
    table = LocalTable(f"{out_dir}/segments")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        corpus = batch_df
        postings = P.build_postings(corpus)
        stats = P.term_stats(postings)
        cs = P.corpus_stats(postings).collect()[0]
        n_docs, avgdl = int(cs["n_docs"]), float(cs["avgdl"])
        seg = encode_segments(postings, stats, n_docs, avgdl, cfg)
        table.append(seg, properties={"batch_id": batch_id, "n_docs": n_docs,
                                      "avgdl": avgdl,
                                      "total_tokens": int(cs["total_tokens"])})

    reader = spark.readStream.schema(schema)
    for k, v in (reader_options or {}).items():
        reader = reader.option(k, v)
    stream = reader.parquet(input_dir)
    return (
        stream.writeStream.foreachBatch(process_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir or f"{out_dir}/_stream_checkpoint")
        .start()
    )


def publish_generations(
    spark: SparkSession,
    stream_dir: str,
    dest_dir: str,
    cfg: EngineConfig | None = None,
) -> dict:
    """Compact every streamed segment generation in ``stream_dir`` into a
    SERVEABLE index at ``dest_dir`` — the publish step of a blue-green
    deployment (round-5 drill): drain with :func:`start_incremental_build`,
    publish to a fresh versioned dir, then flip the serving alias
    (``plans.alias.set_alias``) atomically; rollback is a flip back.

    Corpus stats compose EXACTLY from the per-batch append properties
    (N = sum n_docs_g, total_tokens = sum total_tokens_g) — no corpus
    re-scan, same composition rule as ``plans.build.merge_builds``, and the
    same compaction core (``plans.build.compact_generations``): one blob
    merge exchange re-encodes with block-max bounds from the merged stats;
    bucket boundaries are recomputed df-weighted off the
    generation rows' (term, n) columns (blobs stay on disk). The manifest
    commits LAST, so a publish interrupted anywhere leaves a dir the
    alias layer refuses to serve (set_alias requires a manifest).

    Doc ids must be globally unique across batches (the stream's contract;
    duplicate ids fail the merge kernel loudly). Output has no positional
    tokens sidecar (has_tokens=False): phrase queries need the batch
    builder today — the honest limit, recorded in the manifest.
    """
    cfg = cfg or EngineConfig()
    t0 = time.time()
    table = LocalTable(f"{stream_dir}/segments")
    appends = [
        s for s in table.snapshots()
        if s.operation == "append" and "n_docs" in s.properties
    ]
    if not appends:
        raise FileNotFoundError(
            f"{stream_dir}/segments has no streamed generations to publish"
        )
    return compact_generations(
        spark,
        [table.read(spark)],
        dest_dir,
        n_docs=sum(int(s.properties["n_docs"]) for s in appends),
        total_tokens=sum(int(s.properties["total_tokens"]) for s in appends),
        cfg=cfg,
        t0=t0,
        build_id="publish",
        lineage={
            "operation": "publish",
            "source": stream_dir,
            "generations": len(appends),
            "last_generation_snapshot": appends[-1].snapshot_id,
        },
    )
