"""E1 — the resumable index build (SURVEY.md §3.1, operators B3-B5, B8, B9).

Stage graph (boundaries = materializations, which double as checkpoints):

  corpus ->(tokenize mapInPandas, ONE pass)-> postings_long parquet
  term_stats parquet + df-weighted bucket boundaries (from postings, columnar)
  per bucket-group: filter postings by bucket(term) expression (column-pruned
         scan of the materialization — the corpus is never re-read)
         ->(salt + repartitionByRange + sort + encode)-> segment rows
         ->(append to segments table, commit checkpoints)   [stage: bucket i]
  finally: manifest snapshot with corpus stats + lineage, metrics append.

Resumability: every bucket writes a checkpoint row
(build_id, partition_id, term_lo, term_hi, status, input_snapshot, rows,
bytes, wall_ms). A re-run with the same build_id skips buckets whose status
is 'done' — segments are append-committed via the LocalTable snapshot
protocol, so a crash between group commits leaves a readable, resumable
table. Lineage = input_snapshot (content fingerprint of the corpus read) +
engine code version, recorded in checkpoint rows and the manifest.

Why materialize postings_long: at 100 TB the tokenize pass is the most
expensive scan; persisting its output means term stats, bucket planning,
every bucket-group job, AND resumed builds read the compact columnar
materialization instead of re-tokenizing the corpus. Group scans filter on
a pure bucket(term) expression — with few groups (default 4) the re-scan
cost is a small multiple of one postings read, far below one corpus
tokenize. This is the same trade MapReduce makes by materializing the
shuffle.

Skew: bucket boundaries are df-WEIGHTED term quantiles (equal postings per
bucket, not equal vocabulary), and head terms are additionally salted into
n_salts sub-lists before the range shuffle — the two mandated skew controls
(BASELINE.json north_rule).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import defactonlp_spark
from defactonlp_spark.config import EngineConfig
from defactonlp_spark.operators import postings as P
from defactonlp_spark.operators.segments import encode_segments
from defactonlp_spark.sources.tableio import LocalTable

CHECKPOINT_COLS = (
    "build_id string, partition_id int, term_lo string, term_hi string, "
    "status string, input_snapshot string, rows long, bytes long, wall_ms long"
)
METRICS_COLS = (
    "build_id string, partition_id int, postings_per_sec double, rows long, "
    "bytes long, wall_ms long, ts double"
)


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A short list of tuples -> DataFrame through pandas; columns bind by
    position to the flat DDL ``schema``.

    With Arrow on (the session default) the frame is an Arrow local
    relation, so writing it starts no Python worker. A tuple list would
    become a Python RDD job and fork a worker pool just for a few
    bookkeeping rows. Bare sessions without Arrow take pyspark's row
    fallback and get the same column types."""
    import pandas as pd

    names = [c.split()[0] for c in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame.from_records(rows, columns=names), schema)


def _parquet_rows(path: str) -> int:
    """Row count from parquet footers — no Spark job."""
    import pyarrow.parquet as pq

    total = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            if fn.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(dp, fn)).metadata.num_rows
    return total


#: driver fast-path cutoff for bucket boundaries: ~15-25 MB of (term, df)
#: rows collected. Conservative on purpose (VERDICT r2 nit #3) — the
#: distributed two-phase prefix sum takes over beyond it and is tested at
#: both sizes (tests force n_terms_hint above/below the cutoff).
SMALL_VOCAB_ROWS = 500_000


def _boundaries_on_driver(rows: list, n_buckets: int) -> list[str]:
    """Exact same cut as the distributed path, in numpy on collected
    (term, df) rows — one Spark job instead of five for small vocabularies."""
    import numpy as np

    rows = sorted(rows, key=lambda r: r[0])
    terms = [r[0] for r in rows]
    dfs = np.array([int(r[1]) for r in rows], dtype=np.int64)
    total = int(dfs.sum()) or 1
    cum_before = np.concatenate(([0], np.cumsum(dfs)[:-1]))
    bucket = np.minimum((cum_before * n_buckets) // total, n_buckets - 1)
    firsts: dict[int, str] = {}
    for b, t in zip(bucket.tolist(), terms):
        if b not in firsts:
            firsts[b] = t
    return [firsts[b] for b in sorted(firsts)]


def bucket_boundaries(stats: DataFrame, n_buckets: int, n_terms_hint: int | None = None) -> list[str]:
    """df-weighted term-range boundaries: cut the term axis (sorted) into
    n_buckets ranges of roughly equal posting mass.

    Small vocabularies (``n_terms_hint`` <= SMALL_VOCAB_ROWS) are cut on the
    driver in one collect. Beyond that: distributed two-phase prefix sum —
    NO global single-partition sort: range-partition the vocabulary on term,
    cumsum locally per partition (window partitioned by the range-partition
    id), collect only the P per-partition totals to the driver to form
    offsets, add them back via a broadcast join. Driver traffic is
    O(P + n_buckets) rows regardless of vocabulary size. Both paths are
    deterministic and produce the same cut: the cumulative mass of a term
    depends only on the global term order.
    """
    if n_terms_hint is not None and n_terms_hint <= SMALL_VOCAB_ROWS:
        return _boundaries_on_driver(
            [(r["term"], r["df"]) for r in stats.select("term", "df").collect()], n_buckets
        )
    spark = stats.sparkSession
    P_parts = max(spark.sparkContext.defaultParallelism, 2)
    total = stats.agg(F.sum("df")).collect()[0][0] or 1

    parted = (
        stats.repartitionByRange(P_parts, "term")
        .withColumn("_pid", F.spark_partition_id())
    )
    partials = (
        parted.groupBy("_pid").agg(F.sum("df").alias("psum")).orderBy("_pid").collect()
    )
    off, offsets = 0, []
    for r in partials:
        offsets.append((r["_pid"], off))
        off += int(r["psum"])
    off_df = local_frame(spark, offsets, "_pid int, _off long")

    w = Window.partitionBy("_pid").orderBy("term").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        parted.withColumn("_local_cum", F.sum("df").over(w))
        .join(F.broadcast(off_df), "_pid")
        .withColumn("cum", F.col("_local_cum") + F.col("_off"))
    )
    # integer `div`, NOT float floor(x*n/total): the driver fast path cuts
    # with exact integer arithmetic ((cum_before * n) // total) and near an
    # exact bucket boundary a float53 division can floor one bucket off
    # (ADVICE r1) — both paths must produce the same cut. Range: cum <=
    # total postings (~1e13-1e14 at 1e12 docs) x n_buckets (<= ~1e3) stays
    # well under the 9.2e18 BIGINT limit.
    bucketed = cum.withColumn(
        "bucket",
        F.least(
            F.expr(
                f"((cum - df) * CAST({int(n_buckets)} AS BIGINT))"
                f" div CAST({int(total)} AS BIGINT)"
            ),
            F.lit(n_buckets - 1),
        ).cast("int"),
    )
    firsts = bucketed.groupBy("bucket").agg(F.min("term").alias("lo")).orderBy("bucket").collect()
    return [r["lo"] for r in firsts]


def bucket_expr(boundaries: list[str]):
    """bucket(term) = #boundaries <= term - 1 (pure expression, no join)."""
    arr = F.array(*[F.lit(b) for b in boundaries])
    return F.greatest(
        F.size(F.filter(arr, lambda b: b <= F.col("term"))) - F.lit(1), F.lit(0)
    ).cast("int")


def buckets_for_terms(boundaries: list[str], terms) -> list[int]:
    """Bucket ids the given terms can live in: the driver-side mirror of
    :func:`bucket_expr` (#boundaries <= term, minus one, clamped at 0).
    Empty without boundaries."""
    from bisect import bisect_right

    if not boundaries:
        return []
    return sorted({max(bisect_right(boundaries, t) - 1, 0) for t in terms})


def prepare_webpages(pages: DataFrame, id_strategy: str = "global") -> DataFrame:
    """(url, warc_ts, html, ...) -> corpus(doc_id, url, text, lang).
    Dedup to the latest crawl, assign doc ids, extract text from html (B1).

    Extraction runs AFTER the id shuffle on purpose: assign_doc_ids's
    explicit fixed-count repartition pins the parallelism of the extract
    stage (AQE would otherwise coalesce the small post-dedup exchange and
    run the expensive html->text pandas UDF nearly serially)."""
    from defactonlp_spark.functions.extract import with_extracted_text

    latest = P.latest_per_url(pages)
    with_ids = P.assign_doc_ids(latest, strategy=id_strategy)
    if id_strategy == "global":
        # the global dense-rank window leaves one partition; fan back out
        # before the expensive extract stage (ids are already assigned, so
        # this round-robin shuffle cannot change them)
        with_ids = with_ids.repartition(64)
    return with_extracted_text(with_ids, "html", "text").select(
        "doc_id", "url", "text", "lang"
    )


def prepare_webpages_fused(pages: DataFrame, n_parts: int = 256) -> DataFrame:
    """The scale path's corpus preparation: ONE corpus shuffle, ids deferred
    into the fused tokenize kernel.

    Plan: repartition(n_parts, url) [REPARTITION_BY_NUM — AQE cannot
    coalesce it] -> latest-crawl dedup as a partition-local sort-aggregate
    (the agg's required distribution is satisfied by the repartition, so
    Catalyst inserts NO second exchange — verified in the physical plan)
    -> _pid capture -> sort by url within partitions. IndexBuild feeds this
    to tokenize_postings_html, which assigns doc_id = _pid * 2^40 + rank,
    bit-identical to assign_doc_ids(strategy="partitioned").

    vs prepare_webpages + build_postings (two corpus shuffles, and the
    window's exchange is AQE-coalescible — measured 9-wide on the 320k
    fixture, capping the Python stage's parallelism): this shape keeps the
    whole dedup+extract+tokenize chain in one n_parts-task stage behind a
    single exchange. ``n_parts`` is a pinned constant (NOT derived from
    cluster size) so doc ids are identical on 4 cores or 4000.
    Use prepare_webpages when the extracted text itself is a product
    (doc-store sink); this path is for corpora that feed ONLY the index
    build."""
    parted = pages.repartition(n_parts, "url")
    latest = P.latest_per_url(parted)
    return (
        latest.withColumn("_pid", F.spark_partition_id())
        .sortWithinPartitions("url")
        .select("_pid", "url", "html")
    )


def write_manifest(
    spark: SparkSession,
    out_dir: str,
    build_id: str,
    cfg: EngineConfig,
    t0: float,
    n_docs: int,
    avgdl: float,
    total_tokens: int,
    boundaries: list[str],
    has_tokens: bool,
    extra: dict,
) -> dict:
    """Commit the manifest of the index at ``out_dir``: the one writer
    behind ``IndexBuild.run``, :func:`merge_builds` and
    ``streaming.incremental.publish_generations``.

    Writes the keys every serving path reads (corpus stats, bucket
    boundaries, BM25 and block parameters, ``has_tokens``, ``wall_s`` since
    ``t0``) after the caller's ``extra`` keys (lineage, stage walls, ...),
    and returns the props dict. The manifest commits LAST: a dir without
    one is not an index (``IndexReader`` and ``set_alias`` refuse it)."""
    props = {
        **extra,
        "n_docs": n_docs,
        "avgdl": avgdl,
        "total_tokens": total_tokens,
        "n_buckets": cfg.n_buckets,
        "boundaries": boundaries,
        "k1": cfg.bm25.k1,
        "b": cfg.bm25.b,
        "block_size": cfg.block_size,
        "has_tokens": has_tokens,
        "wall_s": time.time() - t0,
    }
    LocalTable(os.path.join(out_dir, "manifest")).overwrite(
        local_frame(spark, [(build_id,)], "build_id string"), properties=props
    )
    return props


class IndexBuild:
    def __init__(
        self,
        out_dir: str,
        cfg: EngineConfig | None = None,
        build_id: str | None = None,
        n_groups: int = 4,
        id_offset: int = 0,
        store_tokens: bool = False,
    ):
        self.out_dir = out_dir
        self.cfg = cfg or EngineConfig()
        self.build_id = build_id or uuid.uuid4().hex[:12]
        self.n_groups = n_groups
        #: doc-id base for this build's generation (fused-id path only):
        #: incremental appends pass generation * 2^50 so generations are
        #: id-disjoint and merge_segments can compact them (B5)
        self.id_offset = id_offset
        #: positional sidecar for exact-phrase queries (query_phrase): a
        #: bucket-partitioned, term-sorted (doc_id, pos, term) table — the
        #: Lucene .prx analog in Spark idiom: parquet dictionary/delta
        #: encoding is the codec, hive partitions + term row-group stats are
        #: the skip lists. Costs one extra tokenize pass and ~|tokens| rows
        #: of columnar storage; off by default.
        self.store_tokens = store_tokens
        self.postings_dir = os.path.join(out_dir, "postings")
        self.segments = LocalTable(os.path.join(out_dir, "segments"))
        self.checkpoints = LocalTable(os.path.join(out_dir, "checkpoints"))
        self.metrics = LocalTable(os.path.join(out_dir, "metrics"))

    # -- helpers -----------------------------------------------------------
    def _done_buckets(self, spark: SparkSession) -> set[int]:
        if not self.checkpoints.exists():
            return set()
        rows = (
            self.checkpoints.read(spark)
            .filter((F.col("build_id") == self.build_id) & (F.col("status") == "done"))
            .select("partition_id")
            .collect()
        )
        return {r["partition_id"] for r in rows}

    def run(
        self,
        spark: SparkSession,
        corpus: DataFrame,
        input_snapshot: str = "unknown",
        fail_after_groups: int | None = None,
    ) -> dict:
        """Build (or resume) the index for ``corpus(doc_id, text, ...)``.

        Returns the manifest properties dict. ``fail_after_groups`` aborts
        after that many bucket-group commits (crash-injection for tests).
        """
        cfg = self.cfg
        t0 = time.time()
        lineage = {
            "build_id": self.build_id,
            "input_snapshot": input_snapshot,
            "code_version": defactonlp_spark.__version__,
        }

        # per-stage driver walls, kept in the manifest: perfbench's build
        # layers (perfbench/layers.py) and bench.py's full-results file read
        # them; per-layer CPU, shuffle and spill come from Spark's task
        # metrics, not from this process
        stage_walls: dict[str, float] = {}

        def _mark(name: str, ts: float) -> None:
            stage_walls[name] = round(time.time() - ts, 2)

        # ---- stage 1: materialize the postings long table (ONE tokenize
        # pass — the corpus scan is the most expensive stage at 100 TB; term
        # stats, boundaries, and every bucket group then read the columnar
        # materialization, never the corpus again) -------------------------
        stats_path = os.path.join(self.out_dir, "term_stats")
        bounds_path = os.path.join(self.out_dir, "boundaries.json")
        ts = time.time()
        if not os.path.exists(os.path.join(self.postings_dir, "_SUCCESS")):
            # prepare_webpages_fused input still carries raw html: extract +
            # id assignment + tokenize run in ONE Python stage
            if "text" in corpus.columns:
                pl = P.build_postings(corpus)
            else:
                from defactonlp_spark.functions.tokenize import tokenize_postings_html

                pl = tokenize_postings_html(corpus, id_offset=self.id_offset)
            pl.write.mode("overwrite").parquet(self.postings_dir)
        _mark("tokenize_postings", ts)
        postings = spark.read.parquet(self.postings_dir)
        ts = time.time()
        if not os.path.exists(os.path.join(stats_path, "_SUCCESS")):
            P.term_stats(postings).write.mode("overwrite").parquet(stats_path)
        _mark("term_stats", ts)
        stats = spark.read.parquet(stats_path)
        ts = time.time()
        if not os.path.exists(bounds_path):
            n_terms = _parquet_rows(stats_path)
            boundaries = bucket_boundaries(stats, cfg.n_buckets, n_terms_hint=n_terms)
            # pin the bucket map for resume: a resumed build MUST slice the
            # persisted postings with the exact boundaries earlier groups
            # used (atomic rename, same protocol as the manifest)
            tmp = bounds_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(boundaries, f)
            os.replace(tmp, bounds_path)
        with open(bounds_path) as f:
            boundaries = json.load(f)
        _mark("boundaries", ts)

        ts = time.time()
        cs = P.corpus_stats(postings).collect()[0]
        n_docs, avgdl, total_tokens = int(cs["n_docs"]), float(cs["avgdl"]), int(cs["total_tokens"])
        _mark("corpus_stats", ts)

        # ---- optional positional sidecar (query_phrase): bucket-partitioned
        # like the segments so phrase queries prune FILES, term-sorted within
        # partitions so row-group stats prune inside them --------------------
        if self.store_tokens:
            ts = time.time()
            tokens_tbl = LocalTable(os.path.join(self.out_dir, "tokens"))
            if tokens_tbl.current_snapshot() is None:
                if "text" not in corpus.columns:
                    raise ValueError(
                        "store_tokens requires a corpus with an extracted "
                        "`text` column (prepare_webpages output): the fused "
                        "html path assigns doc ids inside the postings "
                        "kernel, and the sidecar must share those ids"
                    )
                from defactonlp_spark.functions.tokenize import tokenize_tokens

                toks = (
                    tokenize_tokens(corpus)
                    .withColumn("bucket", bucket_expr(boundaries))
                    .repartitionByRange(cfg.n_buckets, "bucket", "term")
                    .sortWithinPartitions("term", "doc_id", "pos")
                )
                tokens_tbl.overwrite(
                    toks, properties={**lineage}, partition_by=["bucket"]
                )
            _mark("tokens_sidecar", ts)

        # ---- stage 2: per bucket-group encode + commit ---------------------
        done = self._done_buckets(spark)
        pending = [b for b in range(cfg.n_buckets) if b not in done]
        groups = [
            pending[i :: self.n_groups] for i in range(self.n_groups)
        ]
        groups = [g for g in groups if g]

        committed = 0
        ts = time.time()
        for g in groups:
            tg = time.time()
            # bucket membership is a pure expression over term — the group
            # scan is a column-pruned pass over the postings materialization
            part = postings.filter(bucket_expr(boundaries).isin(g))
            seg = encode_segments(
                part, stats, n_docs, avgdl, cfg,
                n_partitions=max(len(g), 1),
            ).withColumn("bucket", bucket_expr(boundaries))
            # hive-partitioned by bucket: query-time term pruning then skips
            # whole FILES (PartitionFilters from the bucket-of-terms filter)
            # before row-group `term` stats apply (VERDICT r2 next-round #2)
            self.segments.append(
                seg, properties={**lineage, "buckets": g}, partition_by=["bucket"]
            )
            wall_ms = int((time.time() - tg) * 1000)

            # metrics scan touches only int/string columns (n, n_bytes, term,
            # bucket) — parquet column pruning keeps the blobs on disk
            seg_now = self.segments.read(spark).filter(F.col("bucket").isin(g))
            per_bucket = (
                seg_now.groupBy("bucket")
                .agg(
                    F.sum("n").alias("rows"),
                    F.sum("n_bytes").alias("bytes"),
                    F.min("term").alias("term_lo"),
                    F.max("term").alias("term_hi"),
                )
                .collect()
            )
            found = {r["bucket"]: r for r in per_bucket}
            ck_rows, m_rows = [], []
            share = max(wall_ms // max(len(g), 1), 1)
            for b in g:
                r = found.get(b)
                rows = int(r["rows"]) if r else 0
                nbytes = int(r["bytes"]) if r else 0
                ck_rows.append(
                    (self.build_id, b, r["term_lo"] if r else None, r["term_hi"] if r else None,
                     "done", input_snapshot, rows, nbytes, share)
                )
                m_rows.append(
                    (self.build_id, b, rows / (share / 1000.0), rows, nbytes, share, time.time())
                )
            self.checkpoints.append(local_frame(spark, ck_rows, CHECKPOINT_COLS))
            self.metrics.append(local_frame(spark, m_rows, METRICS_COLS))
            committed += 1
            if fail_after_groups is not None and committed >= fail_after_groups:
                raise RuntimeError(f"injected failure after {committed} group commits")
        _mark("encode_commit", ts)

        return write_manifest(
            spark, self.out_dir, self.build_id, cfg, t0,
            n_docs=n_docs, avgdl=avgdl, total_tokens=total_tokens,
            boundaries=boundaries, has_tokens=self.store_tokens,
            extra={"stage_walls": stage_walls, **lineage},
        )


def delete_docs(spark: SparkSession, out_dir: str, doc_ids, note: str | None = None) -> dict:
    """Append delete tombstones to the index at ``out_dir`` (Lucene-style
    live-docs lifecycle). Serving masks tombstoned docs immediately — the
    query paths read them via :meth:`IndexReader.deletes_array` /
    :meth:`IndexReader.deletes_df` — while stored df/N/avgdl stay as built
    until :func:`merge_builds` compacts the tombstones away physically.
    Idempotent: re-deleting an id (or deleting an id the index never had)
    is harmless; the serving set is distinct-ed on read.

    ``doc_ids``: a DataFrame with a ``doc_id`` column, or any iterable of
    ints (driver-sized convenience path).
    """
    if not isinstance(doc_ids, DataFrame):
        doc_ids = local_frame(spark, [(int(d),) for d in doc_ids], "doc_id long")
    tbl = LocalTable(os.path.join(out_dir, "deletes"))
    props = {"operation": "delete"}
    if note:
        props["note"] = note
    snap = tbl.append(doc_ids.select(F.col("doc_id").cast("long").alias("doc_id")), properties=props)
    return {"snapshot_id": snap.snapshot_id, "total_rows": snap.total_rows}


def _union_deletes(spark: SparkSession, dirs: list[str]) -> DataFrame | None:
    """Distinct union of the source indexes' tombstone tables (None if no
    source has any)."""
    dfs = []
    for d in dirs:
        t = LocalTable(os.path.join(d, "deletes"))
        if t.current_snapshot() is not None:
            dfs.append(t.read(spark).select("doc_id"))
    if not dfs:
        return None
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), dfs).distinct()


def merge_builds(
    spark: SparkSession,
    src_dirs: list[str],
    dest_dir: str,
    cfg: EngineConfig | None = None,
    apply_deletes: bool = True,
) -> dict:
    """B5 in anger: compact several id-disjoint index GENERATIONS (separate
    ``IndexBuild`` outputs — e.g. an initial build plus incremental appends
    built with distinct ``id_offset``) into one serveable index at
    ``dest_dir``.

    Corpus stats compose exactly from the generation manifests:
    N = sum(N_g); avgdl = sum(total_tokens_g) / N (no corpus re-scan).
    Duplicate doc ids across generations fail the encoder loudly
    (``encode_runs``, which both compaction branches call).
    Lineage: source dirs + their snapshot ids recorded in the manifest.
    The union, re-encode, bucket-partitioned write and manifest commit are
    :func:`compact_generations`, the core this shares with
    ``streaming.incremental.publish_generations``.

    Tombstones (``apply_deletes``, default on): if any source carries a
    ``deletes`` table, compaction physically drops those docs' postings and
    recomputes EXACT live corpus stats (N, avgdl, per-term df) — the
    resulting index scores identically to a fresh build over the surviving
    corpus (tests/test_deletes.py pins this). The positional sidecar is
    carried through when EVERY source has one (a partial union would
    silently break phrase recall on the merged index).
    """
    cfg = cfg or EngineConfig()
    t0 = time.time()
    srcs = []
    for d in src_dirs:
        snap = LocalTable(os.path.join(d, "manifest")).current_snapshot()
        if snap is None:
            raise FileNotFoundError(f"no manifest in {d}")
        srcs.append((d, snap.properties))
    tok_tbls = [LocalTable(os.path.join(d, "tokens")) for d, _ in srcs]
    return compact_generations(
        spark,
        [LocalTable(os.path.join(d, "segments")).read(spark) for d, _ in srcs],
        dest_dir,
        n_docs=sum(int(p["n_docs"]) for _, p in srcs),
        total_tokens=sum(int(p["total_tokens"]) for _, p in srcs),
        cfg=cfg,
        t0=t0,
        build_id="merge",
        lineage={
            "operation": "merge",
            "sources": json.dumps([
                {"dir": d, "build_id": p.get("build_id"), "n_docs": int(p["n_docs"])}
                for d, p in srcs
            ]),
        },
        dels=_union_deletes(spark, [d for d, _ in srcs]) if apply_deletes else None,
        tokens=(
            [t.read(spark) for t in tok_tbls]
            if all(t.current_snapshot() is not None for t in tok_tbls) else None
        ),
    )


def compact_generations(
    spark: SparkSession,
    gens: list[DataFrame],
    dest_dir: str,
    n_docs: int,
    total_tokens: int,
    cfg: EngineConfig,
    t0: float,
    build_id: str,
    lineage: dict,
    dels: DataFrame | None = None,
    tokens: list[DataFrame] | None = None,
) -> dict:
    """Compact id-disjoint segment generations into one serveable index at
    ``dest_dir``; returns the manifest props. ``n_docs``/``total_tokens``
    are the generations' composed corpus stats; ``lineage`` goes into the
    table and manifest properties.

    Plan (one shuffle + one commit): union of the generation segment rows
    (compressed rows only — the corpus is never touched) ->
      - no tombstones: ``merge_segments`` groupBy(term, salt) applyInPandas
        (decode, doc_id-interleave, re-encode with block-max bounds from the
        MERGED stats); boundaries are cut df-weighted off the rows' (term, n)
        columns (sum(n) == df; a tiny columnar scan, blobs stay on disk);
      - ``dels`` (distinct tombstoned doc ids): decode -> broadcast
        anti-join -> the build's own ``encode_segments`` (one range
        shuffle), with EXACT live stats; this scales with postings volume,
        never with tombstone count (no tombstone array rides a closure)
    -> hive-partitioned segment write -> positional sidecar (``tokens``:
    the sources' token tables, re-bucketed on the new boundaries, minus
    tombstoned docs) -> manifest, written LAST by :func:`write_manifest`.
    """
    from functools import reduce

    from defactonlp_spark.operators.segments import merge_segments

    cols = ["term", "salt", "df", "n", "n_bytes", "n_blocks",
            "docs_blob", "tfs_blob", "dls_blob", "blockmax"]
    union = reduce(lambda a, b: a.unionByName(b), [g.select(*cols) for g in gens])
    avgdl = total_tokens / max(n_docs, 1)
    n_deleted = 0
    live = None
    try:
        if dels is not None:
            from pyspark.storagelevel import StorageLevel

            from defactonlp_spark.plans.query import decode_segments

            # persist the live postings: stats, boundaries, and encode all read them
            live = (
                decode_segments(union)
                .join(F.broadcast(dels), "doc_id", "left_anti")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            crow = P.corpus_stats(live).collect()[0]
            n_deleted = n_docs - int(crow["n_docs"])
            n_docs, avgdl = int(crow["n_docs"]), float(crow["avgdl"])
            total_tokens = int(crow["total_tokens"])
            stats = P.term_stats(live)
            merged = encode_segments(live, stats, n_docs, avgdl, cfg, n_partitions=cfg.n_buckets)
        else:
            merged = merge_segments(union, n_docs, avgdl, cfg)
            stats = union.groupBy("term").agg(F.sum("n").alias("df"))
        n_terms = stats.count()
        boundaries = bucket_boundaries(stats, cfg.n_buckets, n_terms_hint=n_terms)

        lineage = {**lineage, "n_deleted": n_deleted}
        LocalTable(os.path.join(dest_dir, "segments")).overwrite(
            merged.withColumn("bucket", bucket_expr(boundaries)),
            properties=lineage,
            partition_by=["bucket"],
        )
    finally:
        # a failed compaction must not leave the live postings cached
        if live is not None:
            live.unpersist()
    if tokens is not None:
        toks = reduce(lambda a, b: a.unionByName(b),
                      [t.select("doc_id", "pos", "term") for t in tokens])
        if dels is not None:
            toks = toks.join(F.broadcast(dels), "doc_id", "left_anti")
        toks = (
            toks.withColumn("bucket", bucket_expr(boundaries))
            .repartitionByRange(cfg.n_buckets, "bucket", "term")
            .sortWithinPartitions("term", "doc_id", "pos")
        )
        LocalTable(os.path.join(dest_dir, "tokens")).overwrite(
            toks, properties=lineage, partition_by=["bucket"]
        )
    return write_manifest(
        spark, dest_dir, build_id, cfg, t0,
        n_docs=n_docs, avgdl=avgdl, total_tokens=total_tokens,
        boundaries=boundaries, has_tokens=tokens is not None,
        extra={**lineage, "n_terms": n_terms},
    )


class IndexReader:
    """Open a built index: segments DF + the manifest stats the scorers need."""

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.out_dir = out_dir
        self.table = LocalTable(os.path.join(out_dir, "segments"))
        snap = LocalTable(os.path.join(out_dir, "manifest")).current_snapshot()
        if snap is None:
            raise FileNotFoundError(f"no manifest in {out_dir}")
        self.props = snap.properties
        self.n_docs = int(self.props["n_docs"])
        self.avgdl = float(self.props["avgdl"])
        #: total corpus tokens as built — the LM scorer's collection-model
        #: denominator (same "stored stats" convention as n_docs/avgdl)
        self.total_tokens = int(self.props.get("total_tokens", 0))

    def segments(self) -> DataFrame:
        return self.table.read(self.spark)

    def postings(self) -> DataFrame:
        """The build's materialized postings long table (term, doc_id, tf,
        dl) — the index's doc-vector source for pseudo-relevance feedback
        (operators/expansion.py). Term-keyed parquet, so a doc-keyed lookup
        scans; a deployment serving heavy RM3 traffic would also write a
        doc_id-bucketed sidecar of the SAME relation (one extra shuffle at
        build time, pushdown-prunable by doc at query time)."""
        path = os.path.join(self.out_dir, "postings")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            raise FileNotFoundError(f"no postings materialization in {self.out_dir}")
        return self.spark.read.parquet(path)

    def term_stats(self) -> DataFrame:
        """The build's materialized per-term stats (term, df, ...) — the
        dictionary relation query-side feature selection (more-like-this
        keyword idf) reads without touching segments."""
        path = os.path.join(self.out_dir, "term_stats")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            raise FileNotFoundError(f"no term_stats materialization in {self.out_dir}")
        return self.spark.read.parquet(path)

    def tokens(self) -> DataFrame:
        """The positional sidecar (doc_id, pos, term, bucket) for
        query_phrase; built with ``IndexBuild(store_tokens=True)``."""
        tbl = LocalTable(os.path.join(self.out_dir, "tokens"))
        if tbl.current_snapshot() is None:
            raise FileNotFoundError(
                f"no positional sidecar in {self.out_dir}: build with "
                "IndexBuild(store_tokens=True) to serve phrase queries"
            )
        return tbl.read(self.spark)

    def deletes_df(self) -> DataFrame | None:
        """Distinct tombstoned doc_ids (delete_docs appends), None if the
        index has no deletes table. Relational query paths anti-join this."""
        tbl = LocalTable(os.path.join(self.out_dir, "deletes"))
        snap = tbl.current_snapshot()
        if snap is None:
            return None
        return tbl.read(self.spark).select("doc_id").distinct()

    def deletes_array(self, max_rows: int | None = None):
        """Sorted distinct tombstone ids as int64 numpy, for kernel-side
        masking in the WAND path (rides the task closure). ``max_rows``
        (config.max_serving_deletes) guards the driver/closure size using
        the tombstone table's METADATA row count (an upper bound — appends
        may repeat ids) — when it trips, compact with merge_builds instead
        of serving an unboundedly growing live-docs mask.

        The ``doc_id`` column of the current snapshot's files is read on the
        driver with pyarrow (the same footer and file access as
        :func:`_parquet_rows`), so a serving batch starts no Spark job for
        its tombstones."""
        import numpy as np
        import pyarrow.parquet as pq

        tbl = LocalTable(os.path.join(self.out_dir, "deletes"))
        snap = tbl.current_snapshot()
        if snap is None:
            return None
        if max_rows is not None and snap.total_rows > max_rows:
            raise ValueError(
                f"deletes table has ~{snap.total_rows} tombstones (> "
                f"{max_rows}); compact the index with merge_builds before "
                "serving, or raise config.max_serving_deletes"
            )
        ids = [pq.read_table(f, columns=["doc_id"]).column("doc_id").drop_null().to_numpy()
               for f in snap.files]
        arr = np.unique(np.concatenate(ids)).astype(np.int64) if ids else np.empty(0, np.int64)
        return arr if arr.size else None

    @property
    def boundaries(self) -> list[str]:
        return list(self.props.get("boundaries") or [])


def plan_compaction(
    generations: list[dict],
    max_generations: int = 4,
    min_merge: int = 2,
) -> list[str] | None:
    """Size-tiered compaction policy (the Lucene TieredMergePolicy shape,
    reduced to this engine's generation model): given live generations as
    ``[{"dir": ..., "n_docs": ...}, ...]`` (from each manifest's props),
    return the dirs of ONE merge job — the smallest generations, enough of
    them to bring the live count back to ``max_generations`` — or None when
    no compaction is due. Merging smallest-first minimizes bytes rewritten
    per doc over the index's lifetime (each doc is re-encoded O(log n)
    times), the same argument as size-tiered LSM compaction.

    Deterministic: candidates sort on (n_docs, dir). Callers feed the
    result straight to :func:`merge_builds`; the merged output re-enters
    the next round as one generation.
    """
    if len(generations) <= max_generations:
        return None
    n_merge = max(len(generations) - max_generations + 1, min_merge)
    ranked = sorted(generations, key=lambda g: (int(g["n_docs"]), str(g["dir"])))
    return [str(g["dir"]) for g in ranked[:n_merge]]
