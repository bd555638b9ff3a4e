"""B2 — tokenization + (term, doc_id, tf, dl) explode.

Engine-default tokenizer (pinned, SURVEY.md §2.B2):
  1. Unicode NFD normalize,
  2. casefold,
  3. tokens = maximal runs of word characters excluding underscore
     (regex ``[^\\W_]+`` with Python/Unicode semantics — letters + digits;
     combining marks produced by NFD act as separators),
  4. empty tokens dropped.

For the driver's ASCII fixture vocabulary this is exactly
``lower(text)`` split on ``[^a-z0-9]+`` — which is what the DuckDB oracle
SQL uses (see __spark_entry__.oracle_sql).

DrQA-parity mode (operators/drqa.py) swaps in the SimpleTokenizer +
ngram/stopword semantics of the reference stack (SURVEY.md §2.A3-A5).

Scale notes:
- ``tokenize_postings`` runs as ONE ``mapInPandas`` stage: each Arrow batch
  is tokenized, term frequencies are counted *within the document* (a doc is
  entirely contained in one row, so per-batch counting is final — map-side
  aggregation for free; nothing to combine later). The shuffled long table is
  therefore already tf-aggregated: |postings| rows, not |tokens| rows.
- all pandas ops are column-level (Series.str / groupby); no Spark row UDFs.

Reference analog (public, file-level): DrQA
``drqa/tokenizers/simple_tokenizer.py`` + ``scripts/retriever/build_tfidf.py``
(multiprocessing Counter per doc batch) — SURVEY.md §2.A3/A6.
"""

from __future__ import annotations

import re
import unicodedata
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

TOKEN_RE = re.compile(r"[^\W_]+", re.UNICODE)

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("dl", T.IntegerType(), False),
    ]
)


def tokenize_one(text: str | None) -> list[str]:
    """Scalar reference implementation (tests + query-side tokenization)."""
    if text is None:
        return []
    return TOKEN_RE.findall(unicodedata.normalize("NFD", text).casefold())


def _batch_tokens(texts: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Tokenize one Arrow batch of texts -> (the flat token stream as an
    object array, tokens per text as int64). Byte-for-byte the pinned
    semantics of ``tokenize_one``; a missing text has no tokens."""
    norm = pd.Series(
        [unicodedata.normalize("NFD", t).casefold() if isinstance(t, str) else "" for t in texts],
        index=texts.index,
        dtype=object,
    )
    toks = norm.str.findall(TOKEN_RE)
    dl = toks.str.len().to_numpy(np.int64)
    if int(dl.sum()) == 0:
        return np.empty(0, object), dl
    flat = np.concatenate([np.asarray(t, dtype=object) if t else np.empty(0, object)
                           for t in toks.to_numpy()])
    return flat, dl


def _batch_postings(pdf: pd.DataFrame, id_col: str, text_col: str) -> pd.DataFrame:
    """Tokenize one Arrow batch and count tf per (doc, term).

    Counting is numpy, not pandas explode+groupby: factorize the flat token
    stream once, pack (doc_index, term_code) into one int64 key, and let a
    single ``np.unique(return_counts)`` produce the aggregated postings —
    measured 2.3 s -> 1.0 s per 10k fixture docs (explode materialized ~2M
    object rows and the object-key groupby hashed every token twice).
    Tokenization itself is :func:`_batch_tokens`."""
    flat, dl = _batch_tokens(pdf[text_col])
    if flat.size == 0:
        return pd.DataFrame({"term": pd.Series(dtype=object), "doc_id": pd.Series(dtype="int64"),
                             "tf": pd.Series(dtype="int32"), "dl": pd.Series(dtype="int32")})
    codes, uniq_terms = pd.factorize(flat, sort=False)
    doc_idx = np.repeat(np.arange(dl.size, dtype=np.int64), dl)
    # doc_idx < 2^31 (Arrow batch rows), codes < 2^32 (tokens per batch):
    # one int64 key per token, one sort-based unique for the whole count
    key = (doc_idx << 32) | codes.astype(np.int64)
    uk, counts = np.unique(key, return_counts=True)
    u_doc = (uk >> 32).astype(np.int64)
    u_code = (uk & 0xFFFFFFFF).astype(np.int64)
    ids = pdf[id_col].to_numpy(np.int64)
    return pd.DataFrame(
        {
            "term": np.asarray(uniq_terms, dtype=object)[u_code],
            "doc_id": ids[u_doc],
            "tf": counts.astype("int32"),
            "dl": dl[u_doc].astype("int32"),
        }
    )


TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("pos", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
    ]
)


def tokenize_tokens(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """corpus -> token-level (doc_id, pos, term): the POSITIONAL explode
    (phrase/proximity queries need token order; the tf-aggregated
    ``tokenize_postings`` deliberately erases it). Same pinned tokenizer
    byte-for-byte; ``pos`` is the 0-based token index within the doc.

    Emits |tokens| rows — ~dl/|postings| times bigger than the postings
    long table, which is why the phrase operators semi-join this relation
    down to the query's terms BEFORE anything shuffles."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            flat, dl = _batch_tokens(pdf[text_col])
            if flat.size == 0:
                yield pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                                    "pos": pd.Series(dtype="int32"),
                                    "term": pd.Series(dtype=object)})
                continue
            offsets = np.concatenate(([0], np.cumsum(dl)[:-1]))
            pos = np.arange(int(dl.sum()), dtype=np.int64) - np.repeat(offsets, dl)
            ids = pdf[id_col].to_numpy(np.int64)
            yield pd.DataFrame({
                "doc_id": np.repeat(ids, dl),
                "pos": pos.astype("int32"),
                "term": flat,
            })

    return df.select(id_col, text_col).mapInPandas(gen, schema=TOKENS_SCHEMA)


def tokenize_postings(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """corpus(doc_id, text, ...) -> postings_long(term, doc_id, tf, dl).

    One mapInPandas stage, counts final per document, NO shuffle: each
    Arrow batch is tokenized with vectorized string ops and tf is counted
    within the batch (a document is wholly inside one row), so the stage
    emits |postings| aggregated rows directly.

    Measured design note (kept so nobody "optimizes" this backwards): a
    JVM-expression variant — CASE on an ASCII fast path, split/filter to a
    token array, explode, hash-aggregate — was built and benchmarked at
    1.7x MORE CPU than this path on the 320k-doc fixture (221 vs 130
    cpu-sec at 4 cores). Spark's higher-order array functions run
    interpreted (outside whole-stage codegen), the explode materializes
    |tokens| UnsafeRows, and the count needs an extra hash-agg exchange,
    while here the per-batch pandas groupby does the count at C speed with
    zero shuffle. A second variant counting within the row via array_sort +
    index lambdas is catastrophically worse: Catalyst does no CSE inside
    lambda bodies, so every element evaluation re-sorts the token array —
    O(n^2 log n) per document."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _batch_postings(pdf, id_col, text_col)

    return df.select(id_col, text_col).mapInPandas(gen, schema=POSTINGS_SCHEMA)


def tokenize_postings_html(
    df: DataFrame,
    html_col: str = "html",
    id_offset: int = 0,
) -> DataFrame:
    """pages(_pid, html, ...) -> postings_long: FUSED extract + tokenize +
    doc-id assignment in ONE mapInPandas stage.

    The B1 extractor is the same ``extract_text_one`` scalar the golden-byte
    tests pin, so the byte-identical contract is untouched.

    Ids are the scale path's assignment (SURVEY.md §3.1): input must be
    hash-partitioned by url with a PINNED partition count, carry the
    partition id as ``_pid`` and be sorted by url within partitions (see
    plans.build.prepare_webpages_fused); the kernel then assigns ``doc_id =
    id_offset + pid * 2^40 + rank_within_partition`` as a running counter
    over the sorted iterator — bit-identical to
    ``assign_doc_ids(strategy="partitioned")``'s window, with ZERO extra
    shuffles and no AQE interference.

    ``id_offset`` makes segment GENERATIONS id-disjoint: an incremental
    append build passes ``generation * 2^50`` (pids stay < 2^10 at 256-1024
    parts, so per-generation ids stay < 2^50; 2^13 generations fit in
    int64) and ``merge_segments`` can then compact generations without doc
    collisions.

    Why ids live in the kernel (measured on the 320k-page fixture, event-log
    audit at 8 pinned cores): the window variant's partitionBy(_pid) forces
    a second full exchange of the html corpus whose partition count comes
    from spark.sql.shuffle.partitions — and AQE's coalescer shrank it to 9,
    so the expensive extract+tokenize stage ran 9-wide no matter how many
    cores the cluster had (a 23 s straggler task on an 8-core run). Fusing
    id assignment into the tokenize kernel keeps the heavy Python stage on
    the REPARTITION_BY_NUM exchange (AQE never coalesces an explicit
    partition count), restoring ~n_parts-way parallelism at every cluster
    size."""
    from defactonlp_spark.functions.extract import extract_text_one

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        next_rank = 1  # row_number() is 1-based; parity with the window path
        for pdf in batches:
            texts = pdf[html_col].map(extract_text_one)
            ids = id_offset + pdf["_pid"].to_numpy("int64") * (1 << 40) + np.arange(
                next_rank, next_rank + len(pdf), dtype="int64"
            )
            next_rank += len(pdf)
            fused = pd.DataFrame({"doc_id": ids, "text": texts})
            yield _batch_postings(fused, "doc_id", "text")

    return df.select("_pid", html_col).mapInPandas(gen, schema=POSTINGS_SCHEMA)
