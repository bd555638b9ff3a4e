"""B7 — block-max WAND top-k over compressed segments.

Guarantee (the load-bearing one, BASELINE.json:6): for every claim the
result is rank-identical — docIDs AND float64 scores — to the exhaustive
BM25 path. Three pinned choices make that provable:

1. block-max bounds are EXACT maxima of the per-posting contributions,
   computed at build time with the same (N, avgdl, k1, b) used at query time
   (stored in the build manifest), so pruning is sound;
2. a pruned cursor group is skipped only when its upper bound is STRICTLY
   below the heap threshold — an equal bound is still evaluated because a
   tying doc can win on the doc_id tiebreak;
3. when a document is fully evaluated, its per-term contributions are summed
   in ascending term order in float64 — the same order the exhaustive oracle
   uses — so scores are bit-identical, not merely close.

Distribution model: segments are term-range partitioned (build layout), so a
claim's terms live in several partitions. The query plan hashes each claim
to a kernel group (about one group per core), gathers each group's
(term, salt) slices with a join on term, and runs the kernels in ONE
cogrouped ``applyInPandas`` stage with one task per core — the shuffle
moves only compressed blobs of the query's terms (bounded per slice by
salting), never the corpus, and nothing claim-shaped is ever collected to
the driver. Inside the kernel,
decode is deferred: the dense/WAND planning uses only the ``n`` column,
dense claims decode just the slices they touch, and WAND cursors
decompress lazily block by block.

Reference analog: the WAND/BMW literature (Broder et al. 2003; Ding & Suel
2011) — the reference itself scores exhaustively with a sparse dot product
(SURVEY.md §2.A10); WAND is the from-scratch scale replacement mandated by
BASELINE.json.
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from defactonlp_spark.config import BM25Params, EngineConfig
from defactonlp_spark.functions.varbyte import vb_decode
from defactonlp_spark.operators.segments import bm25_contrib, idf

RESULTS_SCHEMA = T.StructType(
    [
        T.StructField("claim_id", T.LongType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def _live(ids: np.ndarray, deletes: np.ndarray | None) -> np.ndarray | None:
    """Boolean keep-mask over ids vs a SORTED tombstone array; None when
    nothing is masked (callers skip the fancy-index copies).

    searchsorted membership, O(|ids| log |deletes|) — np.isin's sort path
    re-sorts the full tombstone array per call, which at one call per
    128-doc block decode dominated the mask's measured serving overhead."""
    if deletes is None or deletes.size == 0 or ids.size == 0:
        return None
    idx = np.searchsorted(deletes, ids)
    np.minimum(idx, deletes.size - 1, out=idx)
    m = deletes[idx] != ids
    return None if m.all() else m


class _Cursor:
    """Lazy block-decoding cursor over one (term, salt) segment slice."""

    __slots__ = (
        "term", "n", "block_size", "docs_blob", "tfs_blob", "dls_blob",
        "last_ids", "max_scores", "doc_offs", "tf_offs", "dl_offs",
        "idf_t", "avgdl", "params", "ub",
        "blk", "pos", "blk_ids", "blk_contrib", "exhausted", "deletes",
    )

    def __init__(self, row, n_docs: int, avgdl: float, params: BM25Params, block_size: int,
                 deletes: np.ndarray | None = None):
        self.term = row.term
        self.n = int(row.n)
        self.block_size = block_size
        self.docs_blob = row.docs_blob
        self.tfs_blob = row.tfs_blob
        self.dls_blob = row.dls_blob
        bm = row.blockmax
        self.last_ids = np.array([b["last_doc_id"] for b in bm], dtype=np.int64)
        self.max_scores = np.array([b["max_score"] for b in bm], dtype=np.float64)
        self.doc_offs = np.array([b["doc_off"] for b in bm], dtype=np.int64)
        self.tf_offs = np.array([b["tf_off"] for b in bm], dtype=np.int64)
        self.dl_offs = np.array([b["dl_off"] for b in bm], dtype=np.int64)
        self.idf_t = float(idf(int(row.df), n_docs))
        self.avgdl = avgdl
        self.params = params
        self.ub = float(self.max_scores.max())
        self.deletes = deletes
        self.exhausted = self.n == 0
        self.blk = -1
        self.pos = 0
        self.blk_ids = None
        self.blk_contrib = None
        if not self.exhausted:
            self._load_block(0)

    # -- block machinery ---------------------------------------------------
    def _block_extent(self, k: int) -> tuple[int, int, int]:
        start = k * self.block_size
        cnt = min(self.block_size, self.n - start)
        base = int(self.last_ids[k - 1]) if k > 0 else 0
        return start, cnt, base

    def _slice_blob(self, blob, offs, k, cnt_hint):
        lo = int(offs[k])
        hi = int(offs[k + 1]) if k + 1 < len(offs) else len(blob)
        return blob[lo:hi]

    def _load_block(self, k: int) -> None:
        # tombstones can empty a block entirely — skip forward to the next
        # block with >= 1 live posting (or exhaust); stored last_ids /
        # max_scores stay valid as boundaries / upper bounds either way
        while True:
            start, cnt, base = self._block_extent(k)
            gaps = vb_decode(self._slice_blob(self.docs_blob, self.doc_offs, k, cnt), cnt)
            ids = np.cumsum(gaps.astype(np.int64)) + base
            tfs = vb_decode(self._slice_blob(self.tfs_blob, self.tf_offs, k, cnt), cnt)
            dls = vb_decode(self._slice_blob(self.dls_blob, self.dl_offs, k, cnt), cnt)
            m = _live(ids, self.deletes)
            if m is not None:
                ids, tfs, dls = ids[m], tfs[m], dls[m]
            if ids.size or k + 1 >= len(self.last_ids):
                break
            k += 1
        self.blk = k
        self.pos = 0
        self.blk_ids = ids
        self.blk_contrib = bm25_contrib(tfs, dls, self.idf_t, self.avgdl, self.params)
        if ids.size == 0:
            self.exhausted = True

    # -- WAND interface ------------------------------------------------------
    def doc(self) -> int:
        return int(self.blk_ids[self.pos])

    def contrib(self) -> float:
        return float(self.blk_contrib[self.pos])

    def block_max(self) -> float:
        return float(self.max_scores[self.blk])

    def block_last(self) -> int:
        return int(self.last_ids[self.blk])

    def shallow_block_for(self, target: int) -> int:
        """Index of the block that could contain target (no decode)."""
        return int(np.searchsorted(self.last_ids, target, side="left"))

    def advance_to(self, target: int) -> None:
        """Move to the first posting with doc_id >= target (lazy decode)."""
        if self.exhausted:
            return
        k = self.shallow_block_for(target)
        if k >= len(self.last_ids):
            self.exhausted = True
            return
        if k != self.blk:
            self._load_block(k)
            if self.exhausted:
                return
            if self.blk != k:
                # _load_block skipped empty (fully deleted) blocks forward;
                # everything in the landed block is already >= target
                self.pos = 0
                return
        self.pos = int(np.searchsorted(self.blk_ids, target, side="left"))
        if self.pos >= len(self.blk_ids):
            # all live postings of this block are < target (the block's
            # stored last doc was deleted) — continue in the next block,
            # whose live postings are all > this block's boundary >= target
            if self.blk + 1 < len(self.last_ids):
                self._load_block(self.blk + 1)
            else:
                self.exhausted = True

    def next(self) -> None:
        self.pos += 1
        if self.pos >= len(self.blk_ids):
            if self.blk + 1 < len(self.last_ids):
                self._load_block(self.blk + 1)
            else:
                self.exhausted = True


def wand_topk_kernel(
    slices: pd.DataFrame,
    n_docs: int,
    avgdl: float,
    k: int,
    params: BM25Params,
    block_size: int,
    deletes: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Block-max WAND over one claim's segment slices -> [(doc_id, score)]
    sorted by (score desc, doc_id asc), len <= k."""
    cursors = [
        _Cursor(row, n_docs, avgdl, params, block_size, deletes=deletes)
        for row in slices.itertuples(index=False)
    ]
    cursors = [c for c in cursors if not c.exhausted]
    heap: list[tuple[float, int]] = []  # (score, -doc_id): heap[0] is the WORST kept

    def threshold() -> float:
        return heap[0][0] if len(heap) >= k else -np.inf

    while True:
        cursors = [c for c in cursors if not c.exhausted]
        if not cursors:
            break
        cursors.sort(key=lambda c: c.doc())
        theta = threshold()
        # pivot: first prefix whose UB sum can reach theta
        acc = 0.0
        pivot = -1
        for i, c in enumerate(cursors):
            acc += c.ub
            if acc >= theta:
                pivot = i
                break
        if pivot < 0:
            break
        pivot_doc = cursors[pivot].doc()
        if cursors[0].doc() == pivot_doc:
            # block-max refinement: shallow-advance prefix blocks, re-check
            bub = 0.0
            boundary = np.iinfo(np.int64).max
            prefix_end = pivot
            while prefix_end + 1 < len(cursors) and cursors[prefix_end + 1].doc() == pivot_doc:
                prefix_end += 1
            sound = True
            for c in cursors[: prefix_end + 1]:
                bk = c.shallow_block_for(pivot_doc)
                if bk >= len(c.last_ids):
                    continue
                bub += float(c.max_scores[bk])
                boundary = min(boundary, int(c.last_ids[bk]))
            if bub < theta:
                # No doc in [pivot_doc, boundary] can beat theta from the
                # prefix cursors alone — but a doc past the NEXT cursor's
                # position may draw on non-prefix terms, so never jump past it.
                nxt = cursors[prefix_end + 1].doc() if prefix_end + 1 < len(cursors) else np.iinfo(np.int64).max
                target = min(boundary + 1, nxt)
                for c in cursors[: prefix_end + 1]:
                    c.advance_to(target)
                continue
            # full evaluation, ascending-term summation (parity contract)
            parts = sorted(
                (c.term, c.contrib()) for c in cursors if not c.exhausted and c.doc() == pivot_doc
            )
            score = 0.0
            for _, v in parts:
                score += v
            key = (score, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, key)
            elif key > heap[0]:
                heapq.heapreplace(heap, key)
            for c in cursors:
                if not c.exhausted and c.doc() == pivot_doc:
                    c.next()
        else:
            # advance all cursors before the pivot up to the pivot doc
            for c in cursors[:pivot]:
                c.advance_to(pivot_doc)
    out = sorted(((s, d) for s, d in heap), key=lambda t: (-t[0], -t[1]))
    return [(-d, s) for s, d in out]


def _batch_kernel(
    pdf: pd.DataFrame,
    batch_claims: list[tuple[int, list[str]]],
    n_docs: int,
    avgdl: float,
    k: int,
    params: BM25Params,
    block_size: int,
    dense_thresh: int,
    deletes: np.ndarray | None = None,
) -> pd.DataFrame:
    """Score every claim of one kernel group over the group's
    (deduplicated) slices.

    Planning happens BEFORE any decode: each claim's candidate volume is the
    sum of its slices' ``n`` column, so the dense-vs-WAND choice needs no
    decompression. Slices are then decoded only if >= 1 dense-path claim
    uses their term — WAND-only slices stay raw blobs and the cursor kernel
    decompresses lazily block by block, which is the entire point of the
    block-max fallback for huge head-term slices (ADVICE r1: the previous
    version decoded everything eagerly, so the fallback saved no decode CPU
    or memory).

    Dense claims accumulate their terms' contribution arrays into a dense
    score buffer indexed by task-local doc position — a strictly
    left-to-right, ascending-term sequence of vectorized adds, so scores
    stay bit-identical to the cursor kernel. A claim whose postings are
    fewer than the group's doc union ranks and resets only the positions
    it touched, so group size adds no per-claim cost."""
    from defactonlp_spark.operators.segments import decode_slice

    pdf = pdf.sort_values(["term", "salt"]).reset_index(drop=True)
    n_by_term = dict(pdf.groupby("term")["n"].sum())

    # -- plan (no decode): which claims go dense, which terms they need ----
    plans: list[tuple[int, list[str], bool]] = []
    dense_terms: set[str] = set()
    for claim_id, terms in batch_claims:
        present = sorted(t for t in set(terms) if t in n_by_term)
        if not present:
            continue
        dense = sum(int(n_by_term[t]) for t in present) <= dense_thresh
        if dense:
            dense_terms.update(present)
        plans.append((claim_id, present, dense))

    # -- decode only dense-needed slices -----------------------------------
    by_term: dict[str, list[tuple[np.ndarray, np.ndarray]]] = {}
    all_ids: list[np.ndarray] = []
    if dense_terms:
        for row in pdf[pdf["term"].isin(dense_terms)].itertuples(index=False):
            ids, tfs, dls = decode_slice(row)
            m = _live(ids, deletes)
            if m is not None:
                ids, tfs, dls = ids[m], tfs[m], dls[m]
            if ids.size == 0:
                continue
            contrib = bm25_contrib(tfs, dls, float(idf(int(row.df), n_docs)), avgdl, params)
            by_term.setdefault(row.term, []).append((ids, contrib))
            all_ids.append(ids)
    # manual sort+dedup instead of np.unique: unique() flattens (copies) its
    # input first — on a multi-million-id union that copy was half the call
    # (0.53 of 0.86 s per batch, cProfile); concatenate already made a fresh
    # contiguous array we can sort in place.
    if all_ids:
        _cat = np.concatenate(all_ids)
        _cat.sort(kind="quicksort")
        uniq = _cat[np.concatenate(([True], _cat[1:] != _cat[:-1]))] if _cat.size else _cat
    else:
        uniq = np.empty(0, dtype=np.int64)
    pos_by_term: dict[str, list[tuple[np.ndarray, np.ndarray]]] = {
        t: [(np.searchsorted(uniq, ids), contrib) for ids, contrib in slices]
        for t, slices in by_term.items()
    }
    scores = np.zeros(uniq.size, dtype=np.float64)

    out_claim, out_rank, out_doc, out_score = [], [], [], []
    for claim_id, present, dense in plans:
        if not dense:
            rows = pdf[pdf["term"].isin(present)]
            top = wand_topk_kernel(rows, n_docs, avgdl, k, params, block_size, deletes=deletes)
        else:
            # ascending term order — the parity contract
            parts = [pc for t in present for pc in pos_by_term.get(t, ())]
            if not parts:
                continue
            # rank only this claim's own positions while they are fewer than
            # the group's doc union, else one scan of the buffer: per-claim
            # cost stays O(min(own postings, union)). Contributions are > 0,
            # so a zero score marks a position's first touch by this claim.
            own = sum(pos.size for pos, _ in parts) < uniq.size
            fresh = []
            for pos, contrib in parts:
                if own:
                    fresh.append(pos[scores[pos] == 0.0])
                scores[pos] += contrib
            cand = np.concatenate(fresh) if own else np.flatnonzero(scores)
            sc = scores[cand]
            scores[cand] = 0.0  # leave the buffer zeroed for the next claim
            if cand.size > k:
                kth = np.partition(sc, cand.size - k)[cand.size - k]
                cand, sc = cand[sc >= kth], sc[sc >= kth]
            order = np.lexsort((uniq[cand], -sc))[:k]
            top = [(int(uniq[i]), float(v)) for i, v in zip(cand[order], sc[order])]
        for r, (d, s) in enumerate(top, 1):
            out_claim.append(claim_id)
            out_rank.append(r)
            out_doc.append(d)
            out_score.append(s)
    return pd.DataFrame(
        {
            "claim_id": np.array(out_claim, dtype=np.int64),
            "rank": np.array(out_rank, dtype=np.int32),
            "doc_id": np.array(out_doc, dtype=np.int64),
            "score": np.array(out_score, dtype=np.float64),
        }
    )


def term_in(terms: list[str]) -> Column:
    """``term IN ('t1', 't2', ...)`` as ONE parsed expression.

    ``F.col("term").isin(terms)`` makes one py4j call per literal (about
    0.4 ms each on a 4-core host; 7-9 s for 20,000 terms); this is one. The
    parser yields the same ``In`` predicate (``InSet`` past the optimizer's
    10-value threshold), so parquet pushdown is unchanged
    (``PushedFilters: [In(term, ...``). Literals escape backslash and quote
    for the default ``spark.sql.parser.escapedStringLiterals=false``. An
    empty list is ``False`` (``IN ()`` does not parse)."""
    if not terms:
        return F.lit(False)
    lits = ", ".join(
        "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'" for t in terms
    )
    return F.expr(f"term IN ({lits})")


def wand_topk(
    segments: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 5,
    cfg: EngineConfig = EngineConfig(),
    term_buckets=None,
    boundaries: list[str] | None = None,
    deletes: np.ndarray | None = None,
    n_shards: int | None = None,
) -> DataFrame:
    """segments x (claim_id, term) -> results(claim_id, rank, doc_id, score).

    ``deletes``: optional SORTED int64 array of tombstoned doc_ids
    (IndexReader.deletes_array); kernels mask them after block decode, so
    deleted docs neither rank nor occupy top-k slots. Stored df / n_docs /
    avgdl / block-max bounds deliberately still include deleted postings
    until compaction (Lucene live-docs semantics — bounds stay sound upper
    bounds, and the exhaustive path filters with the same stored stats, so
    WAND/exhaustive parity holds). The array rides the task closure; its
    size is capped by the caller (config.max_serving_deletes) — compaction
    via merge_builds is the scale path for large tombstone sets.

    Group-gather plan, fully distributed (no driver materialization of the
    claim set — VERDICT r1 'What's wrong' #1):

    1. the distinct (claim_id, term) relation is tokenized ONCE per call and
       held as a local checkpoint; the term probe and both kernel inputs
       read that copy. Each claim then hashes to one of
       ``G = max(defaultParallelism, ceil(n_claims /
       cfg.serve_claims_per_batch))`` kernel groups — one expression, no
       shuffle. A serving-sized claim batch gets one group per core; huge
       claim sets get groups of bounded size. A claim's score never depends
       on its group, so results do not either;
    2. the segment scan is pruned to the query's DISTINCT terms — collected
       for an ``IN``-list pushdown (:func:`term_in`; parquet row-group stats
       apply; the distinct term count is vocabulary-bounded by Heaps' law,
       NOT |claims|-bounded) when small, a term semi-join beyond
       ``cfg.isin_pushdown_max_terms``;
    3. slices join (group, term) so each blob ships ONCE PER GROUP (not per
       claim — claims share Zipf-head terms, so per-claim gathering
       multiplies the heaviest blobs by |claims|; measured 9x). The join is
       unhinted: AQE broadcasts the group-term side when it is small and
       falls back to a shuffle join when a huge claim set makes it large —
       either way the blob volume is the inherent per-group duplication;
    4. ONE cogrouped ``applyInPandas`` stage receives each group's claim->
       term rows AS DATA (left cogroup side) and its slices (right side) —
       nothing claim-shaped rides the task closure. Both sides are placed
       by group id into exactly ``defaultParallelism`` partitions, so AQE
       cannot coalesce the kernel stage below the core count. Per claim
       the planner picks the vectorized dense kernel or lazy block-max WAND
       by candidate volume; both are bit-identical
       (tests/test_topk_parity.py).
    """
    from pyspark.sql import Observation, Window

    spark = segments.sparkSession
    par = spark.sparkContext.defaultParallelism

    # -- 1. tokenize once, then one group expression ------------------------
    # the checkpoint job also counts the claims; the HLL estimate only sizes
    # the groups, so it need not be exact, and it saves a count() job
    seen = Observation()
    qt = (
        qterms.select("claim_id", "term").distinct()
        .observe(seen, F.approx_count_distinct("claim_id").alias("n_claims"))
        .localCheckpoint()
    )
    n_groups = max(par, -(-seen.get["n_claims"] // max(cfg.serve_claims_per_batch, 1)))
    qt_g = qt.withColumn("grp", F.pmod(F.xxhash64("claim_id"), F.lit(n_groups)).cast("int"))

    # -- 2. segment pruning on distinct terms ------------------------------
    terms_df = qt.select("term").distinct()
    # one job probes AND fetches: collect limit+1 rows — if the limit is
    # exceeded the rows are discarded and the semi-join path runs; below it
    # they ARE the pushdown list (saves a separate count() job per query)
    probe_rows = terms_df.limit(cfg.isin_pushdown_max_terms + 1).collect()
    if not probe_rows:
        return spark.createDataFrame([], RESULTS_SCHEMA)
    if len(probe_rows) <= cfg.isin_pushdown_max_terms:
        terms = sorted(r["term"] for r in probe_rows)
        pruned = segments
        # file-level pruning first: when the segment table is hive-
        # partitioned by bucket, `bucket isin` becomes PartitionFilters and
        # skips whole files before the `term isin` row-group stats run.
        # ``term_buckets`` maps terms -> bucket ids from the build manifest
        # (IndexReader.buckets_for_terms); None for bucket-less tables.
        if term_buckets is not None and "bucket" in segments.columns:
            bks = term_buckets(terms)
            if bks:
                pruned = segments.filter(F.col("bucket").isin(bks))
        hits = pruned.filter(term_in(terms))
    else:
        # huge term sets (claims >> vocabulary probe cap): semi-join instead
        # of isin. With the bucket-partitioned layout, joining on (bucket,
        # term) lets dynamic partition pruning skip files here too — bucket
        # for each term is a pure expression over the manifest boundaries.
        if boundaries and "bucket" in segments.columns:
            from defactonlp_spark.plans.build import bucket_expr

            tb = terms_df.withColumn("bucket", bucket_expr(boundaries))
            hits = segments.join(tb, ["bucket", "term"], "left_semi")
        else:
            hits = segments.join(terms_df, "term", "left_semi")

    # -- 3. per-group gather ------------------------------------------------
    # fresh alias for the gather side's group column: both cogroup sides
    # descend from qt, and Spark's ambiguous-self-join check rejects the
    # same attribute id appearing on both sides
    group_terms = qt_g.select(F.col("grp").alias("s_grp"), "term").distinct()
    joined = hits.join(group_terms, "term", "inner")

    params, bs, dense_thresh = cfg.bm25, cfg.block_size, cfg.dense_eval_threshold

    # -- 4. cogrouped kernel: claim rows arrive as data, not closure --------
    def per_group_fn(key: tuple, claims_pdf: pd.DataFrame, slices_pdf: pd.DataFrame) -> pd.DataFrame:
        group_claims = [
            (int(cid), g["term"].tolist())
            for cid, g in claims_pdf.groupby("claim_id", sort=True)
        ]
        return _batch_kernel(
            slices_pdf, group_claims, n_docs, avgdl, k, params, bs, dense_thresh,
            deletes=deletes,
        )

    # -- sharded fan-out (operators/sharding.py): each (group, shard) cogroup
    # computes a LOCAL top-k over its shard's slices with GLOBAL stats; a
    # window over the claims x shards x k local winners keeps the global k,
    # with the kernels' exact tie-break (score desc, doc_id asc) — so the
    # result is rank-and-score identical to the unsharded path. The claim
    # side replicates to the shard list via a broadcast range (n_shards
    # rows), never self-joining the gather relation. The pair folds into one
    # key column: partitioning placed by an expression over two columns
    # would not satisfy a two-column cogroup, and Spark would shuffle again.
    if n_shards is not None:
        shards = spark.range(n_shards).select(F.col("id").cast("int").alias("_shard"))
        qt_g = qt_g.crossJoin(F.broadcast(shards)).withColumn(
            "grp", F.col("grp") * n_shards + F.col("_shard")
        )
        joined = joined.withColumn("s_grp", F.col("s_grp") * n_shards + F.col("shard"))

    local = (
        qt_g.repartitionById(par, "grp").groupBy("grp")
        .cogroup(joined.repartitionById(par, "s_grp").groupBy("s_grp"))
        .applyInPandas(per_group_fn, schema=RESULTS_SCHEMA)
    )
    if n_shards is None:
        return local
    wm = Window.partitionBy("claim_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("rank", F.row_number().over(wm).cast("int"))
        .filter(F.col("rank") <= k)
    )
