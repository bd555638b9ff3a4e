"""Corpus preparation + postings long table + corpus/term statistics.

Pipeline stage E1 steps 1-5 (SURVEY.md §3.1). All relational — Catalyst
handles pushdown/pruning; the only Python is the tokenizer kernel.

Scale notes (100 TB):
- url-dedup is a window over ``partitionBy(url)`` — one shuffle on url, the
  natural key; skew-free (urls are unique-ish by construction).
- doc_id assignment at sandbox scale uses a global ``row_number`` (single
  shuffle, acceptable to ~10^8 rows). At 10^12-doc scale the documented path
  is ``monotonically_increasing_id()`` + a persisted (url -> doc_id) mapping
  table; ids only need to be stable + dense-ish for delta compression, not
  consecutive. ``assign_doc_ids(strategy="partitioned")`` implements the
  scale path: ids = partition_id * 2^40 + local row index, computed with zero
  global shuffles.
- term_stats/corpus_stats are partial+final hash aggregations (map-side
  combine for free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from defactonlp_spark.functions.tokenize import tokenize_postings
from defactonlp_spark.operators.bm25 import bm25_score_expr, topk


def latest_per_url(pages: DataFrame) -> DataFrame:
    """Keep the latest crawl per url (recrawl dedup; SURVEY.md §2.C date/time).

    ``max_by`` aggregation, not a window: hash-agg gets map-side partial
    aggregation (each input partition forwards at most one candidate row per
    url) and skips the window's per-partition sort — at crawl scale the
    shuffle carries ~|unique urls| rows instead of |rows|.

    Ordering key is null-safe and total (ADVICE r1): NULL warc_ts coalesces
    to a sentinel far before any crawl (so a url whose timestamps are all
    NULL still yields its real payload instead of max_by dropping every
    row), and warc_ts ties break on a deterministic content hash of the
    payload columns — required by the byte-identical-build determinism
    contract (ties on truly identical rows are harmless either way).
    """
    others = [c for c in pages.columns if c != "url"]
    order_key = F.struct(
        F.coalesce(
            F.col("warc_ts"), F.lit("0001-01-01 00:00:00").cast("timestamp")
        ).alias("ts"),
        F.xxhash64(*[F.col(c) for c in others]).alias("tiebreak"),
    )
    agg = pages.groupBy("url").agg(F.max_by(F.struct(*others), order_key).alias("_r"))
    return agg.select("url", *[F.col(f"_r.{c}").alias(c) for c in others])


def assign_doc_ids(pages: DataFrame, strategy: str = "global", n_parts: int = 256) -> DataFrame:
    """Add a deterministic ``doc_id`` keyed by url.

    strategy="global": dense rank of url (bit-stable across runs & cluster
    sizes; one global sort — fine to ~10^8 docs).
    strategy="partitioned": scale path — stable but sparse ids derived from a
    repartition-by-url + per-partition index; no global sort. Deterministic
    AND cluster-size-independent because the partition count is a pinned
    constant (NOT derived from defaultParallelism), the url-hash partitioner
    is pinned, and the within-partition sort is total on url — the same
    corpus gets the same ids on 4 cores or 4000.
    """
    if strategy == "global":
        w = Window.orderBy("url")
        return pages.withColumn("doc_id", F.row_number().over(w).cast("long") - 1)
    if strategy == "partitioned":
        # capture the url-hash partition id as data BEFORE the window's own
        # shuffle re-partitions rows (spark_partition_id() is stage-local)
        parted = (
            pages.repartition(n_parts, "url")
            .withColumn("_pid", F.spark_partition_id())
        )
        part_w = Window.partitionBy("_pid").orderBy("url")
        return (
            parted.withColumn(
                "doc_id",
                (F.col("_pid").cast("long") * F.lit(1 << 40))
                + F.row_number().over(part_w).cast("long"),
            ).drop("_pid")
        )
    raise ValueError(strategy)


def build_postings(corpus: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """corpus -> postings_long(term, doc_id, tf, dl). One mapInPandas stage.

    Parallelism is floored at the session default before the CPU-bound
    tokenize kernel: a fixture corpus arriving as one parquet file would
    otherwise tokenize on a single core. No-ops at production partition
    counts; the fused index-build path (tokenize_postings_html behind a
    pinned REPARTITION_BY_NUM exchange) does not go through here.
    """
    from defactonlp_spark.session import floor_parallelism

    return tokenize_postings(floor_parallelism(corpus), id_col=id_col, text_col=text_col)


def term_stats(postings: DataFrame) -> DataFrame:
    """(term, df, ctf). Exact distinct-doc counts: postings are already
    unique per (term, doc), so df == count(*) per term — no countDistinct
    shuffle. ctf (collection term frequency, sum of tf) rides the same
    aggregate for free; the stored dictionary thereby serves both BM25
    (df) and LM query-likelihood (ctf) without a second postings pass."""
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").cast("long").alias("ctf"),
    )


def corpus_stats(postings: DataFrame) -> DataFrame:
    """One row: (n_docs, avgdl, total_tokens). dl repeats per posting of the
    same doc, so aggregate per doc first, then globally."""
    per_doc = postings.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        F.sum("dl").cast("long").alias("total_tokens"),
    )


def term_vectors(postings: DataFrame, stats: DataFrame, doc_ids: list[int]) -> DataFrame:
    """ES ``_termvectors`` API (with ``term_statistics=true``): for each
    requested doc, every term with its in-doc frequency plus the
    dictionary's corpus statistics —
    (doc_id, term, tf, dl, df, ttf).

    Plan: the doc_id IN-list filter lands on the postings scan (partition/
    row-group pruning on a doc-partitioned store), so the per-request cost
    is the requested docs' postings only; the dictionary join is term-keyed
    against the (Heaps-bounded) stats relation. The request side is a
    handful of ids — an API lookup, not an analytics scan — which is why
    the list is a plain literal filter rather than a join."""
    ids = [int(d) for d in doc_ids]
    return (
        postings.filter(F.col("doc_id").isin(ids))
        .join(stats, "term", "inner")
        .select(
            "doc_id", "term", "tf", "dl", "df",
            F.col("ctf").alias("ttf"),
        )
    )


def suggest_terms(stats: DataFrame, prefixes: DataFrame, k: int = 5) -> DataFrame:
    """Search-box term suggester: for each prefix, the top-k dictionary
    terms by document frequency (ties broken lexicographically).

    Relational shape: the prefix set is query-sized — broadcast it onto the
    term dictionary with a ``startswith`` theta-join (the dictionary is
    |vocabulary| rows, Heaps-law bounded, NOT |corpus|), then a windowed
    top-k per prefix. A latency-critical deployment would additionally
    range-partition + sort the dictionary by term so the prefix becomes a
    range predicate; at batch scale the broadcast scan is one pass.

    ``prefixes``: DataFrame with a ``prefix`` column. Returns
    (prefix, rank, term, df)."""
    joined = stats.join(
        F.broadcast(prefixes.select("prefix").distinct()),
        F.col("term").startswith(F.col("prefix")),
        "inner",
    )
    cols = ("prefix", "rank", "term", "df")
    return topk(joined, k, None, cols=cols, key="df", part="prefix", tie="term")


def suggest_corrections(
    stats: DataFrame,
    qterms: DataFrame,
    max_dist: int = 2,
    topn: int = 1,
) -> DataFrame:
    """Did-you-mean spell correction for out-of-vocabulary query terms
    (the Lucene DirectSpellChecker shape): for each query term NOT in the
    dictionary, the ``topn`` dictionary terms within Levenshtein distance
    ``max_dist``, ranked distance asc / df desc / term asc.

    Relational shape: OOV terms = anti-join against the dictionary (both
    sides tiny on the query side); candidates = broadcast theta-join of the
    OOV terms onto the Heaps-bounded dictionary, pre-filtered by the
    |length difference| <= max_dist band before the levenshtein expr runs
    (Spark evaluates the cheap band predicate first). At web vocabulary
    sizes a latency deployment precomputes a SymSpell deletion
    neighborhood instead — same output contract, one equi-join.

    ``qterms``: (claim_id, term). Returns
    (claim_id, term, rank, suggestion, dist, df)."""
    dict_terms = stats.select("term", "df")
    oov = qterms.join(dict_terms, "term", "left_anti")
    cand = dict_terms.select(
        F.col("term").alias("suggestion"), "df"
    ).join(
        F.broadcast(oov),
        F.abs(F.length("suggestion") - F.length("term")) <= max_dist,
        "inner",
    ).withColumn("dist", F.levenshtein("term", "suggestion")).filter(
        F.col("dist") <= max_dist
    )
    w = Window.partitionBy("claim_id", "term").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("suggestion")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= topn)
        .select("claim_id", "term", "rank", "suggestion", "dist", "df")
    )


def prune_postings(
    postings: DataFrame,
    stats: DataFrame,
    n_docs: int,
    avgdl: float,
    keep_n: int,
    params=None,
) -> DataFrame:
    """Static index pruning (Carmel et al., SIGIR 2001 — the top-N variant):
    keep, per term, only the ``keep_n`` postings with the highest BM25
    impact; everything else is dropped from the SERVING index. Queries then
    run over the pruned index with the FULL build stats (df/N/avgdl are the
    unpruned values — pruning changes which postings exist, never the
    scoring model), trading bounded recall for a serving index that can be
    an order of magnitude smaller — the standard first tier of a tiered
    100 TB serving deployment (pruned tier answers most queries; the full
    tier backstops).

    Impact is the posting's full-stats BM25 contribution rounded to 6 dp;
    ties break on doc_id asc, so the kept set is engine-portable (the DuckDB
    twin applies the identical window).

    Plan — two-phase top-N, because top-N is distributive: a plain window
    ``partitionBy(term)`` would put a head term's ENTIRE posting list on
    one reducer (df up to ~N at web scale — the exact skew the build salts
    against). Phase 1 takes the local top-``keep_n`` within
    (term, salt = doc_id % n_salts) partitions; phase 2 re-ranks the
    surviving ``n_salts * keep_n`` rows per term. Any global-top-N row is
    also in its salt's local top-N, so the result is IDENTICAL to the
    single window (tested) while the largest partition shrinks by n_salts.
    """
    from defactonlp_spark.config import BM25Params

    p = params or BM25Params()
    n_salts = 16
    impact = F.round(bm25_score_expr(n_docs, avgdl, p), 6)
    scored = (
        postings.join(stats, "term", "inner")
        .withColumn("impact", impact)
        .withColumn("_salt", (F.col("doc_id") % n_salts).cast("int"))
    )
    cols = ("term", "doc_id", "tf", "dl", "impact")
    survivors = topk(scored, keep_n, None, cols=cols, key="impact", part=["term", "_salt"])
    return topk(survivors, keep_n, None, cols=cols[:4], key="impact", part="term")
