"""E2 — batch claim queries over a built index (SURVEY.md §3.2).

Two paths, contractually rank-identical (tests/test_topk_parity.py):

- ``query_wand``     — block-max WAND over compressed segments (B7), the
                       production path: decodes only the blocks it must.
- ``query_exhaustive`` — decode-everything + DataFrame BM25 (B6), the oracle.

Both take claims as a DataFrame (claim_id, claim) and return
results(claim_id, rank, doc_id, score).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from defactonlp_spark.config import EngineConfig
from defactonlp_spark.operators.bm25 import (
    claim_terms,
    score_conjunctive,
    score_exhaustive,
)
from defactonlp_spark.operators.segments import decode_slice
from defactonlp_spark.operators.wand import wand_topk
from defactonlp_spark.plans.build import IndexReader

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("dl", T.IntegerType(), False),
    ]
)


def decode_segments(segments: DataFrame) -> DataFrame:
    """segments -> postings_long(term, doc_id, tf, dl). Vectorized decode."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for row in pdf.itertuples(index=False):  # no per-row Series build
                ids, tfs, dls = decode_slice(row)
                outs.append(
                    pd.DataFrame(
                        {
                            "term": row.term,
                            "doc_id": ids,
                            "tf": tfs.astype(np.int32),
                            "dl": dls.astype(np.int32),
                        }
                    )
                )
            yield pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(
                {"term": [], "doc_id": [], "tf": [], "dl": []}
            )

    return segments.mapInPandas(gen, schema=DECODED_SCHEMA)


def query_wand(reader: IndexReader, claims: DataFrame, k: int = 5, cfg: EngineConfig | None = None) -> DataFrame:
    cfg = cfg or EngineConfig()
    q = claim_terms(claims)
    return wand_topk(
        reader.segments(), q, reader.n_docs, reader.avgdl, k=k, cfg=cfg,
        term_buckets=reader.buckets_for_terms, boundaries=reader.boundaries,
        deletes=reader.deletes_array(cfg.max_serving_deletes),
    )


class ServingSession:
    """Long-lived serving deployment shape (VERDICT r2 next-round #7):
    one process serving MANY query batches over one index generation.

    ``query_wand`` alone re-scans the segment parquet (and re-ships the
    Zipf-head term blobs) on every batch. A serving deployment instead pins
    the segment table in the executors' block managers —
    ``persist(MEMORY_AND_DISK)`` here, the local-mode stand-in for an
    executor-side blob cache; on a real cluster the same ``persist`` call
    distributes slices across executor storage and the (batch, term) join
    reads them locally. ``warm()`` materializes the cache outside the
    serving path so the first measured batch is already steady-state.

    The bucket/term pruning still applies per batch — against the cached
    relation it prunes cached RDD partitions via in-memory batch stats
    instead of parquet footers. ``close()`` releases executor storage.

    Each ``topk`` batch runs through :func:`wand_topk`: the claims are
    tokenized once into a local checkpoint, hashed into about one kernel
    group per core (``EngineConfig.serve_claims_per_batch`` caps a group's
    claims), and every cached slice a group needs ships to it once. So a
    batch costs one tokenize pass, one term probe and one kernel stage that
    runs a task on every core.

    Scale note: MEMORY_AND_DISK distributes slices across the cluster's
    executor storage and spills cleanly when the index exceeds aggregate
    RAM (local disk on the executors — still orders faster than re-reading
    the object store per batch). When the index dwarfs even local disk, a
    deployment pins only the hot prefix (e.g. ``segments.filter(bucket
    isin hot_buckets)``) and lets cold buckets fall through to the parquet
    path — same code, different filter.
    """

    def __init__(self, reader: IndexReader, cfg: EngineConfig | None = None, persist: bool = True):
        from pyspark.storagelevel import StorageLevel

        self.reader = reader
        self.cfg = cfg or EngineConfig()
        self.segments = reader.segments()
        # live-docs snapshot at session open (Lucene reader semantics: a
        # session sees the tombstones committed when it opened; deletes
        # landing later become visible on the next session / reader)
        self.deletes = reader.deletes_array(self.cfg.max_serving_deletes)
        self._persisted = persist
        if persist:
            self.segments = self.segments.persist(StorageLevel.MEMORY_AND_DISK)

    def warm(self) -> int:
        """Materialize the segment cache; returns the slice count."""
        return self.segments.count()

    def topk(self, claims: DataFrame, k: int = 5) -> DataFrame:
        return wand_topk(
            self.segments, claim_terms(claims), self.reader.n_docs,
            self.reader.avgdl, k=k, cfg=self.cfg,
            term_buckets=self.reader.buckets_for_terms,
            boundaries=self.reader.boundaries,
            deletes=self.deletes,
        )

    def close(self) -> None:
        if self._persisted:
            self.segments.unpersist()


def _pruned_postings(reader: IndexReader, q: DataFrame):
    """Shared decode front half of the non-WAND query paths: bucket + term
    pruned segment scan -> (postings_long, per-term stats).

    Tombstones: decoded postings are anti-joined against the index's
    deletes table (broadcast — serving-sized by the same lifecycle bound as
    config.max_serving_deletes), while ``stats`` keeps the STORED per-term
    df. That is exactly the WAND kernels' masking semantics, so the
    wand/exhaustive rank-and-score parity contract survives deletes."""
    terms = [r["term"] for r in q.select("term").distinct().collect()]
    seg = reader.segments()
    bks = reader.buckets_for_terms(terms)
    if bks and "bucket" in seg.columns:
        seg = seg.filter(F.col("bucket").isin(bks))
    hits = seg.filter(F.col("term").isin(terms))
    # full-term df is carried on every slice; one row per (term) suffices
    stats = hits.groupBy("term").agg(F.first("df").alias("df"))
    postings = decode_segments(hits)
    dels = reader.deletes_df()
    if dels is not None:
        postings = postings.join(F.broadcast(dels), "doc_id", "left_anti")
    return postings, stats


def query_exhaustive(reader: IndexReader, claims: DataFrame, k: int = 5, cfg: EngineConfig | None = None) -> DataFrame:
    cfg = cfg or EngineConfig()
    q = claim_terms(claims)
    postings, stats = _pruned_postings(reader, q)
    return score_exhaustive(
        postings, stats, q, reader.n_docs, reader.avgdl, k=k, params=cfg.bm25
    )


def query_lm_dirichlet(
    reader: IndexReader,
    claims: DataFrame,
    mu: float = 2000.0,
    k: int = 5,
) -> DataFrame:
    """Dirichlet query-likelihood retrieval over the built index — the same
    pruned segment decode as :func:`query_exhaustive`, scored with the LM
    model instead of BM25 (operators/lm.py::score_lm_dirichlet).

    Stored-stats convention (matches BM25-under-deletes): ctf comes from the
    build's term dictionary and total_tokens from the manifest — as-built
    collection statistics; tombstoned docs are masked from SCORING by
    ``_pruned_postings``' anti-join but the collection model is unchanged
    until compaction. Indexes built before the dictionary carried ctf fall
    back to aggregating it from the postings materialization pruned to the
    query terms (identical values — ctf is definitionally sum(tf))."""
    q = claim_terms(claims)
    postings, _ = _pruned_postings(reader, q)
    dict_df = reader.term_stats()
    if "ctf" in dict_df.columns:
        cstats = dict_df.select("term", "ctf")
    else:  # pre-ctf index: one term-pruned pass over stored postings
        terms = [r["term"] for r in q.select("term").distinct().collect()]
        cstats = (
            reader.postings()
            .filter(F.col("term").isin(terms))
            .groupBy("term")
            .agg(F.sum("tf").cast("long").alias("ctf"))
        )
    if not reader.total_tokens:
        raise ValueError(f"manifest in {reader.out_dir} lacks total_tokens")
    from defactonlp_spark.operators.lm import score_lm_dirichlet

    return score_lm_dirichlet(postings, cstats, q, reader.total_tokens, mu=mu, k=k)


def query_filtered(
    reader: IndexReader,
    claims: DataFrame,
    allowed: DataFrame,
    k: int = 5,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """Top-k BM25 restricted to an ``allowed`` doc set — metadata-predicate
    retrieval (the Lucene filter-query analog): "best k docs WHERE
    lang='en'", takedown scopes, date ranges, licence filters.

    ``allowed``: any DataFrame with a ``doc_id`` column (e.g. a doc-attrs
    table filtered by the predicate). Unlike the tombstone mask it never
    rides a task closure — it joins DISTRIBUTIVELY (left-semi on the
    decoded postings; AQE turns it into a broadcast join when the filter
    output is small), so the allowed set can be any size up to the corpus.

    Semantics: EXACT top-k among allowed docs, scored with the STORED
    df/N/avgdl (identical to ranking the unfiltered results and keeping
    allowed docs — corpus-level statistics don't change because a query
    filters). Tombstones compose: deleted docs are masked first.

    Why not WAND-with-overfetch: under a selective filter the block-max
    upper bounds (computed over ALL docs) stop pruning — the classic
    filtered-retrieval result — and an overfetch loop needs per-claim
    refill rounds. One pruned decode of the query terms' slices plus one
    semi-join is cheaper and exact at every selectivity; a HEAVILY reused
    filter at 10^12 scale is better served by building a sub-index
    generation for the filtered corpus (IndexBuild on the filtered scan).
    """
    cfg = cfg or EngineConfig()
    q = claim_terms(claims)
    postings, stats = _pruned_postings(reader, q)
    postings = postings.join(
        allowed.select("doc_id").distinct(), "doc_id", "left_semi"
    )
    return score_exhaustive(
        postings, stats, q, reader.n_docs, reader.avgdl, k=k, params=cfg.bm25
    )


def query_collapsed(
    reader: IndexReader,
    claims: DataFrame,
    groups: DataFrame,
    k: int = 5,
    cfg: EngineConfig | None = None,
    group_col: str = "group",
) -> DataFrame:
    """Field-collapsed top-k over a built index: best doc per group value
    (domain/source/site) per claim, then top-k across groups — the
    Elasticsearch `collapse` analog served from the segment table.

    ``groups`` is a (doc_id, <group_col>) relation (a doc-attrs dim table at
    web scale). Same pruned-decode front half as the other relational paths
    (bucket files -> term row groups -> tombstone anti-join), so stored-stats
    semantics and deletes compose. Collapse happens AFTER scoring on the
    candidate relation only — the group join touches candidate docs, never
    the corpus.

    Why not WAND-with-overfetch: a group can monopolize any prefix of the
    ranking, so no static overfetch k' guarantees k collapsed groups; the
    exact relational path costs one pruned decode (see query_filtered's
    reasoning for the same trade)."""
    from defactonlp_spark.operators.bm25 import score_collapsed

    cfg = cfg or EngineConfig()
    q = claim_terms(claims)
    postings, stats = _pruned_postings(reader, q)
    return score_collapsed(
        postings, stats, q, reader.n_docs, reader.avgdl, groups,
        k=k, params=cfg.bm25, group_col=group_col,
    )


def query_phrase(

    reader: IndexReader,
    phrases: DataFrame,
    k: int = 5,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """Exact phrase top-k over a built index (operators/phrase.py) using
    the positional sidecar (``IndexBuild(store_tokens=True)`` — the Lucene
    .prx analog: bucket-partitioned hive layout prunes FILES for the
    phrase's terms, term row-group stats prune inside them, parquet
    dictionary/delta encoding is the positional codec).

    BM25 part reads the compressed segments through the same pruned decode
    as the other relational paths, so stored-stats semantics and tombstone
    masking compose: a deleted doc's postings are anti-joined away, which
    removes it from the final semi-join even when the sidecar still holds
    its tokens."""
    from defactonlp_spark.operators.phrase import phrase_positions, score_phrase

    cfg = cfg or EngineConfig()
    qpos = phrase_positions(phrases)
    qterms = qpos.select("claim_id", "term").distinct()
    postings, stats = _pruned_postings(reader, qterms)

    terms = [r["term"] for r in qterms.select("term").distinct().collect()]
    toks = reader.tokens()
    bks = reader.buckets_for_terms(terms)
    if bks and "bucket" in toks.columns:
        toks = toks.filter(F.col("bucket").isin(bks))
    toks = toks.filter(F.col("term").isin(terms))

    return score_phrase(
        postings, stats, toks, phrases, reader.n_docs, reader.avgdl,
        k=k, params=cfg.bm25,
    )


def query_conjunctive(reader: IndexReader, claims: DataFrame, k: int = 5, cfg: EngineConfig | None = None) -> DataFrame:
    """Top-k docs containing ALL of a claim's terms, BM25-ranked.

    Boolean-AND retrieval over the same compressed segments: identical
    pruned scan + decode as :func:`query_exhaustive`, then
    :func:`score_conjunctive`'s group-count intersection. Claims with any
    out-of-corpus term return no rows.
    """
    cfg = cfg or EngineConfig()
    q = claim_terms(claims)
    postings, stats = _pruned_postings(reader, q)
    return score_conjunctive(
        postings, stats, q, reader.n_docs, reader.avgdl, k=k, params=cfg.bm25
    )


def query_boolean(
    reader: IndexReader,
    queries: DataFrame,
    k: int = 5,
    cfg: EngineConfig | None = None,
) -> DataFrame:
    """Boolean (must / should / must_not) BM25 top-k over a built index —
    the Lucene BooleanQuery analog (operators/bm25.py::score_boolean).

    ``queries``: (claim_id, must, should, must_not) free-text clause
    columns. The pruned segment scan covers ALL clause terms (must_not
    included — their postings are needed to veto docs), then the single
    scored aggregate applies clause logic. Tombstone masking rides
    :func:`_pruned_postings`' anti-join, so deleted docs can neither match
    nor veto.
    """
    from defactonlp_spark.operators.bm25 import boolean_terms, score_boolean

    cfg = cfg or EngineConfig()
    q = boolean_terms(queries)
    postings, stats = _pruned_postings(reader, q)
    return score_boolean(
        postings, stats, q, reader.n_docs, reader.avgdl, k=k, params=cfg.bm25
    )


def query_rm3(
    reader: IndexReader,
    claims: DataFrame,
    k: int = 5,
    fb_docs: int = 10,
    fb_terms: int = 10,
    alpha: float = 0.5,
    cfg: EngineConfig | None = None,
    rank_dp: int | None = None,
) -> DataFrame:
    """RM3 pseudo-relevance-feedback retrieval over a built index
    (operators/expansion.py): pruned first pass -> relevance model from the
    fb docs' vectors (read off the build's postings materialization) ->
    pruned weighted second pass.

    Tombstones compose: both scored passes read masked postings via
    :func:`_pruned_postings`, so deleted docs neither rank nor feed the
    relevance model (the fb-doc join starts from masked first-pass docs).
    """
    from defactonlp_spark.operators.expansion import rm3_weights, score_weighted

    cfg = cfg or EngineConfig()
    q = claim_terms(claims)
    postings1, stats1 = _pruned_postings(reader, q)
    first = score_exhaustive(
        postings1, stats1, q, reader.n_docs, reader.avgdl, k=fb_docs,
        params=cfg.bm25, rank_dp=rank_dp,
    ).select("claim_id", "doc_id", "score")
    wterms = rm3_weights(
        first, reader.postings(), q, fb_terms=fb_terms, alpha=alpha
    )
    postings2, stats2 = _pruned_postings(reader, wterms)
    return score_weighted(
        postings2, stats2, wterms, reader.n_docs, reader.avgdl, k=k,
        params=cfg.bm25, rank_dp=rank_dp,
    )


def query_more_like_this(
    reader: IndexReader,
    seed_docs: DataFrame,
    like_terms: int = 10,
    k: int = 5,
    cfg: EngineConfig | None = None,
    rank_dp: int | None = None,
) -> DataFrame:
    """MoreLikeThis over a built index: seed doc vectors come off the
    build's postings materialization, keyword idf off the stored term
    dictionary, and the scoring pass reads term-pruned decoded segments
    (so tombstones mask results exactly like every other relational path).

    Note the seed docs themselves are NOT tombstone-checked — asking for
    docs like a deleted one is legal (the classic "find replacements for
    the doc we just removed" flow); the deleted doc simply can't appear in
    results.
    """
    from defactonlp_spark.operators.analytics import doc_keywords

    cfg = cfg or EngineConfig()
    seeds = seed_docs.select("doc_id").distinct()
    seed_vecs = reader.postings().join(F.broadcast(seeds), "doc_id", "left_semi")
    kw = doc_keywords(
        seed_vecs, reader.n_docs, k=like_terms, df_counts=reader.term_stats()
    )
    qterms = kw.select(F.col("doc_id").alias("claim_id"), "term")
    postings, stats = _pruned_postings(reader, qterms)
    res = score_exhaustive(
        postings, stats, qterms, reader.n_docs, reader.avgdl,
        k=k + 1, params=cfg.bm25, rank_dp=rank_dp,
    ).filter(F.col("doc_id") != F.col("claim_id"))
    from pyspark.sql import Window

    w = Window.partitionBy("claim_id").orderBy(F.asc("rank"))
    return (
        res.withColumn("new_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("new_rank") <= k)
        .select(
            F.col("claim_id").alias("seed_id"),
            F.col("new_rank").alias("rank"),
            "doc_id",
            "score",
        )
    )
