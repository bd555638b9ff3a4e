"""B4/B5 — posting-list segment encode, decode, write, and k-way merge.

Physical layout (one segment row per (term, salt) slice):

  term      string   — raw term (no hashing; SURVEY.md §2.A5 rationale)
  salt      int      — skew sub-list id (0 for unsalted terms)
  df        long     — document frequency of the FULL term (all salts)
  n         long     — postings in this slice
  n_bytes   long     — total blob bytes (metrics scans read this int column
                       instead of length()-ing the blobs)
  n_blocks  int
  docs_blob binary   — delta+varbyte doc_ids (gaps continuous across blocks)
  tfs_blob  binary   — varbyte term frequencies
  dls_blob  binary   — varbyte document lengths (needed for exact BM25 at
                       query time; keeps block-max bounds EXACT, which is
                       what makes WAND score-parity provable)
  blockmax  array<struct<last_doc_id long, max_score double,
                         doc_off int, tf_off int, dl_off int>>
            — per 128-entry block: last doc_id (skip pointer), exact max
              BM25 contribution of any doc in the block, byte offsets of the
              block start in each blob.

:func:`encode_segments` takes plain postings (term, doc_id, tf, dl): ONE
broadcast join brings each term's full df, and the salt is computed from it
(head terms split into ``n_salts`` sub-lists), so no caller plans salting.
Encode runs inside ``mapInArrow`` AFTER ``repartitionByRange(term, salt)`` +
``sortWithinPartitions(term, salt, doc_id)`` — the exact physical plan the
north star mandates. The kernel is a streaming group-by over the sorted
Arrow batches: every complete (term, salt) run of a batch is encoded by ONE
call of :func:`encode_runs` — whole-batch numpy passes for gaps, the three
varbyte streams, block maxima and skip offsets, with the blob columns built
zero-copy over the encoded streams — and the batch's segment rows leave as
one Arrow record batch. There is no per-slice loop; a run that continues
past the batch end is carried into the next batch, so memory is bounded by
one batch plus one term-slice, which salting bounds in turn. There is one
encoder: :func:`encode_slice` (used by the merge kernel) is a one-run call
of the same function, so the on-disk format has a single writer.

Reference analog: DrQA's CSR ``.npz`` is a single non-compressed in-memory
matrix (SURVEY.md §1.3); segments are its distributed, compressed,
mergeable replacement.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from defactonlp_spark.config import BM25Params, EngineConfig
from defactonlp_spark.functions.varbyte import vb_decode, vb_encode_parts

BLOCKMAX_T = T.ArrayType(
    T.StructType(
        [
            T.StructField("last_doc_id", T.LongType(), False),
            T.StructField("max_score", T.DoubleType(), False),
            T.StructField("doc_off", T.IntegerType(), False),
            T.StructField("tf_off", T.IntegerType(), False),
            T.StructField("dl_off", T.IntegerType(), False),
        ]
    )
)

SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("salt", T.IntegerType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("n_blocks", T.IntegerType(), False),
        T.StructField("docs_blob", T.BinaryType(), False),
        T.StructField("tfs_blob", T.BinaryType(), False),
        T.StructField("dls_blob", T.BinaryType(), False),
        T.StructField("blockmax", BLOCKMAX_T, False),
    ]
)


def idf(df_: np.ndarray | float, n_docs: float) -> np.ndarray | float:
    """ln(1 + (N - df + 0.5)/(df + 0.5)) — pinned BM25 idf (always > 0)."""
    return np.log1p((n_docs - df_ + 0.5) / (df_ + 0.5))


def bm25_contrib(tf, dl, idf_t, avgdl, p: BM25Params):
    """Per-posting BM25 contribution, float64 (vectorized)."""
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    return idf_t * tf * (p.k1 + 1.0) / (tf + p.k1 * (1.0 - p.b + p.b * dl / avgdl))


#: SEGMENT_SCHEMA as Arrow: the record batches encode_segments emits
SEGMENT_ARROW = to_arrow_schema(SEGMENT_SCHEMA)
_BLOCKMAX_ARROW = SEGMENT_ARROW.field("blockmax").type
_ENCODED_COLS = SEGMENT_ARROW.names[2:]  # df .. blockmax, one value per run


def _binary_array(stream: np.ndarray, offsets: np.ndarray) -> pa.Array:
    """Zero-copy binary column over one byte stream; row i is
    ``stream[offsets[i]:offsets[i + 1]]``."""
    if stream.size >= 1 << 31:
        raise ValueError(
            "encode_runs: a batch's blob stream exceeds the 2 GiB binary "
            "column limit (raise n_salts to split the slice)"
        )
    return pa.Array.from_buffers(
        pa.binary(), offsets.size - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(stream)],
    )


def encode_runs(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    run_starts: np.ndarray,
    run_df: np.ndarray,
    n_docs: int,
    avgdl: float,
    cfg: EngineConfig,
) -> list[pa.Array]:
    """THE segment encoder: consecutive sorted runs -> the segment columns
    ``df .. blockmax``, one row per run. Run i covers rows
    ``[run_starts[i], run_starts[i + 1])``; the last run ends at the end of
    the arrays; ``run_df[i]`` is its term's full df.

    Whole-array passes, no per-run loop. Varbyte codes every value on its
    own, so each stream (gaps, tfs, dls) is encoded once and each run's blob
    is a byte range of it; block maxima are one ``maximum.reduceat`` over
    the global block starts.
    """
    doc = np.ascontiguousarray(doc_ids, dtype=np.int64)
    rs = np.asarray(run_starts, dtype=np.int64)
    lens = np.diff(rs, append=doc.size)
    if rs.size == 0 or rs[0] != 0 or (lens <= 0).any():
        raise ValueError("encode_runs: runs must tile the arrays, each non-empty")
    # delta gaps restart at every run: its first gap is its absolute doc id
    # (>= 0); every later gap must be > 0, since a 0 gap is a repeated id
    # (overlapping compaction generations, or a corpus repeating a doc_id)
    gaps = np.empty(doc.size, dtype=np.int64)
    np.subtract(doc[1:], doc[:-1], out=gaps[1:])
    gaps[rs] = 1
    if gaps.min() <= 0 or doc[rs].min() < 0:
        raise ValueError(
            "encode_runs: doc ids must strictly ascend within a run and be >= 0 "
            "(a duplicate doc_id repeats within its term)"
        )
    gaps[rs] = doc[rs]
    tfs = np.ascontiguousarray(tfs, dtype=np.uint64)
    dls = np.ascontiguousarray(dls, dtype=np.uint64)

    # idf through the scalar call, once per distinct df, then broadcast:
    # np.log1p over an array may take a SIMD loop that rounds differently,
    # and block maxima must be the exact max of the served contributions
    run_df = np.asarray(run_df, dtype=np.int64)
    uniq, inv = np.unique(run_df, return_inverse=True)
    run_idf = np.array([float(idf(int(d), n_docs)) for d in uniq])[inv]
    scores = bm25_contrib(tfs, dls, np.repeat(run_idf, lens), avgdl, cfg.bm25)

    B = cfg.block_size
    run_blocks = -(-lens // B)
    run_first_block = np.cumsum(run_blocks) - run_blocks
    blk_run = np.repeat(np.arange(rs.size), run_blocks)
    blk_start = rs[blk_run] + (np.arange(blk_run.size) - run_first_block[blk_run]) * B
    blk_end = np.minimum(blk_start + B, (rs + lens)[blk_run])

    blobs, blk_offs = [], []
    n_bytes = np.zeros(rs.size, dtype=np.int64)
    for vals in (gaps, tfs, dls):
        stream, sizes = vb_encode_parts(vals)
        before = np.cumsum(sizes) - sizes  # stream offset of each value
        run_off = np.append(before[rs], stream.size)
        blobs.append(_binary_array(stream, run_off))
        blk_offs.append(pa.array((before[blk_start] - before[rs][blk_run]).astype(np.int32)))
        n_bytes += np.diff(run_off)

    blocks = pa.StructArray.from_arrays(
        [pa.array(doc[blk_end - 1]), pa.array(np.maximum.reduceat(scores, blk_start)), *blk_offs],
        fields=list(_BLOCKMAX_ARROW.value_type),
    )
    blockmax = pa.ListArray.from_arrays(
        pa.array(np.append(run_first_block, blk_run.size).astype(np.int32)),
        blocks,
        type=_BLOCKMAX_ARROW,
    )
    return [
        pa.array(run_df),
        pa.array(lens),
        # blob bytes as a plain column so build metrics scan ints, not blobs
        pa.array(n_bytes),
        pa.array(run_blocks.astype(np.int32)),
        *blobs,
        blockmax,
    ]


def encode_slice(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    term_df: int,
    n_docs: int,
    avgdl: float,
    cfg: EngineConfig,
) -> dict:
    """Encode one sorted (term, salt) slice to a segment-row dict: a
    one-run call of :func:`encode_runs`."""
    cols = encode_runs(doc_ids, tfs, dls, np.zeros(1, dtype=np.int64),
                       np.array([term_df]), n_docs, avgdl, cfg)
    return {name: col[0].as_py() for name, col in zip(_ENCODED_COLS, cols)}


def decode_slice(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Full decode of one segment row -> (doc_ids, tfs, dls)."""
    n = int(row["n"]) if not hasattr(row, "n") else int(row.n)
    get = (lambda k: row[k]) if isinstance(row, (dict, pd.Series)) else (lambda k: getattr(row, k))
    gaps = vb_decode(get("docs_blob"), n)
    doc_ids = np.cumsum(gaps.astype(np.int64))
    tfs = vb_decode(get("tfs_blob"), n).astype(np.int64)
    dls = vb_decode(get("dls_blob"), n).astype(np.int64)
    return doc_ids, tfs, dls


def _run_starts(batch: pa.RecordBatch) -> np.ndarray:
    """Row index of each (term, salt) run start in a batch sorted by
    (term, salt, doc_id)."""
    term, salt = batch.column("term"), batch.column("salt")
    change = np.ones(batch.num_rows, dtype=bool)
    if batch.num_rows > 1:
        diff = pc.or_(pc.not_equal(term[1:], term[:-1]), pc.not_equal(salt[1:], salt[:-1]))
        change[1:] = diff.to_numpy(zero_copy_only=False)
    return np.flatnonzero(change)


def _key(batch: pa.RecordBatch, row: int) -> tuple:
    return batch.column("term")[row].as_py(), batch.column("salt")[row].as_py()


def _concat(batches: list[pa.RecordBatch]) -> pa.RecordBatch:
    if len(batches) == 1:
        return batches[0]
    return pa.Table.from_batches(batches).combine_chunks().to_batches()[0]


def encode_segments(
    postings: DataFrame,
    stats_df: DataFrame,
    n_docs: int,
    avgdl: float,
    cfg: EngineConfig,
    n_partitions: int | None = None,
) -> DataFrame:
    """postings_long(term, doc_id, tf, dl) -> segment rows.

    Physical plan: ONE broadcast join of the full-term df -> salt ->
    repartitionByRange(term, salt) [THE big shuffle, skew-managed by salt]
    -> sortWithinPartitions(term, salt, doc_id) -> streaming mapInArrow
    encode.

    Head-term salting happens here, off the joined df, so callers pass
    plain postings: a term with df > max(n_docs * salt_df_ratio, 1) splits
    into ``cfg.n_salts`` sub-lists by ``doc_id % n_salts``; every other term
    keeps salt 0 (SURVEY.md §2.B3 / BASELINE.json skew mandate).

    Each Arrow batch is encoded whole: every complete (term, salt) run in it
    goes through one :func:`encode_runs` call and leaves as one record
    batch, so the cost is a handful of numpy passes per batch, not per
    slice (a tail-term range holds thousands of few-posting slices). The
    last run of a batch may continue into the next one; it is carried over
    and encoded with that batch.
    """
    P = n_partitions or cfg.n_buckets
    thresh = max(int(n_docs * cfg.salt_df_ratio), 1)
    salt = F.when(F.col("df") > thresh, F.col("doc_id") % cfg.n_salts).otherwise(0)
    joined = (
        postings.select("term", "doc_id", "tf", "dl")
        .join(F.broadcast(stats_df.select("term", "df")), "term", "inner")
        .withColumn("salt", salt.cast("int"))
    )
    arranged = joined.repartitionByRange(P, "term", "salt").sortWithinPartitions(
        "term", "salt", "doc_id"
    )

    def encode_batch(batch: pa.RecordBatch, starts: np.ndarray) -> pa.RecordBatch:
        col = batch.column
        cols = encode_runs(
            col("doc_id").to_numpy(), col("tf").to_numpy(), col("dl").to_numpy(),
            starts, col("df").to_numpy()[starts], n_docs, avgdl, cfg,
        )
        keys = [col("term").take(starts).cast(pa.string()),
                col("salt").take(starts).cast(pa.int32())]
        return pa.RecordBatch.from_arrays(keys + cols, schema=SEGMENT_ARROW)

    def encode_iter(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # batches holding the open run, which may continue in the next batch;
        # concatenated once when the run closes, so a slice spanning many
        # batches is copied once, not once per batch
        carry: list[pa.RecordBatch] = []
        for batch in batches:
            if batch.num_rows == 0:
                continue
            starts = _run_starts(batch)
            if carry and starts.size == 1 and _key(carry[-1], -1) == _key(batch, 0):
                carry.append(batch)
                continue
            if carry:
                batch = _concat(carry + [batch])
                starts = _run_starts(batch)
            last = int(starts[-1])
            if last:
                yield encode_batch(batch.slice(0, last), starts[:-1])
            carry = [batch.slice(last)]
        if carry:
            yield encode_batch(_concat(carry), np.zeros(1, dtype=np.int64))

    return arranged.mapInArrow(encode_iter, schema=SEGMENT_SCHEMA)


def merge_segments(
    spark_segments: DataFrame,
    n_docs: int,
    avgdl: float,
    cfg: EngineConfig,
) -> DataFrame:
    """K-way merge of segment generations (SURVEY.md §2.B5).

    Input: union of segment rows from multiple builds over DISJOINT doc_id
    sets. Decodes each slice, merges by doc_id, recomputes df and block-max
    (N/avgdl of the merged corpus), re-encodes. Salt slices stay separate;
    df(term) = total postings across all salts/generations of the term,
    recomputed exactly.

    Shuffle discipline (verified in the physical plan): the WHOLE merge is
    ONE exchange of the blob rows. The window's hash partitioning on term
    also satisfies the downstream ``groupBy(term, salt)`` clustering
    requirement (every (term, salt) group is co-located once term is), so
    Catalyst inserts no second exchange before the merge kernel. An
    aggregate-plus-join formulation of df was tried and is strictly worse
    statically: the join re-exchanges the blob side (SortMergeJoin) unless
    AQE happens to broadcast the (term, df) relation at runtime.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("term")
    with_df = spark_segments.withColumn("df_new", F.sum("n").over(w))

    def merge_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        term, salt = key
        ids_l, tfs_l, dls_l = [], [], []
        for r in pdf.itertuples(index=False):
            ids, tfs, dls = decode_slice(r._asdict() if hasattr(r, "_asdict") else r)
            ids_l.append(ids)
            tfs_l.append(tfs)
            dls_l.append(dls)
        ids = np.concatenate(ids_l)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]  # a doc id in two generations fails encode_runs
        tfs = np.concatenate(tfs_l)[order]
        dls = np.concatenate(dls_l)[order]
        row = {
            "term": term,
            "salt": int(salt),
            **encode_slice(ids, tfs, dls, int(pdf["df_new"].iloc[0]), n_docs, avgdl, cfg),
        }
        return pd.DataFrame([row])

    return with_df.groupBy("term", "salt").applyInPandas(merge_group, schema=SEGMENT_SCHEMA)
