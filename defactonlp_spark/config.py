"""Engine configuration. All constants that affect on-disk formats or score
parity are pinned here — changing any of them invalidates golden fixtures.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class BM25Params:
    """Okapi BM25 with the idf variant used by DrQA-style rankers.

    score(q, d) = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))        (always > 0)

    Parity contract (SURVEY.md §2.B6): float64 throughout; per-document terms
    are summed in ascending term order so the pruned (WAND) and exhaustive
    paths produce bit-identical scores.
    """

    k1: float = 1.2
    b: float = 0.75


@dataclass(frozen=True)
class EngineConfig:
    bm25: BM25Params = field(default_factory=BM25Params)

    #: posting-list block size for block-max metadata (docs per block)
    block_size: int = 128

    #: number of term-range buckets for the index build (segment partitions)
    n_buckets: int = 32

    #: a term whose df exceeds this fraction of n_docs is "head" and gets
    #: salted across `n_salts` sub-lists (skew management, SURVEY.md §2.B3)
    salt_df_ratio: float = 0.10
    n_salts: int = 4

    #: arrow batch sizing for the wide-row extractor stage
    extract_batch_rows: int = 256

    #: per-claim query planning: if the claim's total candidate postings
    #: (sum of slice lengths, known without decoding) are below this, score
    #: them all with the vectorized numpy kernel instead of walking WAND
    #: cursors. Measured on the 320k-doc fixture: the dense kernel scores
    #: ~100M postings/sec/core while cursor WAND steps ~30-100k/sec under
    #: weak pruning (flat score distributions), so cursors only pay off when
    #: pruning skips >99.9% of candidates — i.e. very large, highly
    #: selective/skewed candidate sets. Both kernels are bit-identical in
    #: output (same ascending-term float64 summation); SPEED choice only.
    dense_eval_threshold: int = 50_000_000

    #: batch query serving: each claim hashes to one of
    #: ``max(defaultParallelism, ceil(n_claims / serve_claims_per_batch))``
    #: kernel groups, so this is the CAP on claims per group: a serving-sized
    #: batch gets one group per core, and only huge claim sets reach the cap,
    #: which bounds one task's claim rows and decoded slices. Each segment
    #: slice ships and decodes ONCE PER GROUP, so fewer, larger groups do
    #: less work: the batch kernel alone scored 256 Zipf-head claims over a
    #: 2,000-doc index in 0.55 s of CPU as 4-claim groups, 0.38 s as 8,
    #: 0.09 s as 64 and 0.04 s as one group of 256 (4-vCPU host). The dense
    #: kernel ranks a claim over its own postings when they are fewer than
    #: the group's doc union, so a larger group adds no per-claim cost.
    serve_claims_per_batch: int = 256

    #: live-docs serving guard: the WAND kernels mask delete tombstones with
    #: a sorted int64 array that rides the task closure (IndexReader
    #: .deletes_array), so its size must stay broadcast-small. 1M ids = 8 MB
    #: — ample for the Lucene-style lifecycle (deletes accumulate between
    #: compactions, merge_builds drops them physically). Past the cap,
    #: deletes_array raises: compact instead of serving an ever-growing mask.
    max_serving_deletes: int = 1_000_000

    #: segment-scan pruning fast path: when the query set's DISTINCT terms
    #: number at most this, they are collected and pushed as an `isin`
    #: filter (parquet row-group stat pruning applies — segments are written
    #: term-sorted). The distinct-term count is bounded by the vocabulary
    #: (Heaps' law), not by |claims|; beyond the bound a term semi-join
    #: prunes instead (no driver materialization).
    isin_pushdown_max_terms: int = 20_000
