"""Corpus analytics: collocation mining and per-doc keyword extraction.

Both are single-shuffle relational jobs on the engine tokenizer's term
space — classic corpus-exploration ops a webtext pipeline runs alongside
quality gates (public refs: Church & Hanks 1990 PMI collocations; standard
TF-IDF keyword extraction).

All arithmetic is written with explicit association so the DuckDB oracle
reproduces it bit-for-bit; ranking keys are rounded before the window so
mathematical ties break on the term, never on engine float noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from defactonlp_spark.operators.bm25 import topk
from defactonlp_spark.operators.dedup import tokens_col


def token_bigrams(
    docs: DataFrame, text_col: str = "text", id_col: str | None = None
) -> DataFrame:
    """-> one row per in-doc token bigram (w1, w2). JVM-side: slice +
    arrays_zip + explode, all codegen; no Python, no shuffle.
    ``id_col``: carry a doc identifier through (for presence/df consumers
    like rare_terms-over-bigrams); None keeps the original bare shape."""
    t = tokens_col(text_col)
    n1 = F.greatest(F.size(t) - 1, F.lit(0))
    ids = [id_col] if id_col else []
    prep = docs.select(
        *ids,
        F.slice(t, F.lit(1), n1).alias("w1s"),
        F.slice(t, F.lit(2), n1).alias("w2s"),
    )
    return prep.select(*ids, F.explode(F.arrays_zip("w1s", "w2s")).alias("p")).select(
        *ids, F.col("p.w1s").alias("w1"), F.col("p.w2s").alias("w2")
    )


def bigram_pmi(
    docs: DataFrame,
    min_count: int = 5,
    top: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Top collocations by pointwise mutual information:

    pmi(w1,w2) = ln( ((c12 * T) * T) / ((T2 * c1) * c2) ), rounded to 6 dp,
    where c12 = bigram count, c1/c2 = unigram counts, T = total tokens,
    T2 = total bigrams. Pairs with c12 < ``min_count`` are dropped; the top
    ``top`` pairs by (pmi desc, w1, w2) are returned.

    Plan: one explode + hash-agg for bigrams, one for unigrams (both
    map-side combined), two broadcast joins of the (small) unigram counts
    onto the bigram counts, one global top-k window. The corpus totals are
    single-row aggregates (no driver loop over data)."""
    pairs = token_bigrams(docs, text_col=text_col)
    c12 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = (
        docs.select(F.explode(tokens_col(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = uni.agg(F.sum("c").alias("t")).collect()[0]
    t = float(totals["t"] or 0)
    t2 = float(
        c12.agg(F.sum("c12").alias("t2")).collect()[0]["t2"] or 0
    )
    scored = (
        c12.filter(F.col("c12") >= min_count)
        .join(F.broadcast(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1")), "w1")
        .join(F.broadcast(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2")), "w2")
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    ((F.col("c12").cast("double") * F.lit(t)) * F.lit(t))
                    / ((F.lit(t2) * F.col("c1").cast("double")) * F.col("c2"))
                ),
                6,
            ),
        )
    )
    # global top-k via sort+limit = TakeOrderedAndProject (distributed
    # partial top-k per partition, merge on the driver) — NOT a
    # row_number window, which would single-partition the whole relation
    return (
        scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(top)
        .select("w1", "w2", F.col("c12").cast("long").alias("c12"), "pmi")
    )


def doc_keywords(
    postings: DataFrame,
    n_docs: int,
    k: int = 5,
    df_counts: DataFrame | None = None,
) -> DataFrame:
    """Per-doc top-k keywords by tf-idf over a postings long table
    (term, doc_id, tf): weight = tf * ln(n_docs / df), rounded to 6 dp,
    ranked (weight desc, term asc) within each doc.

    ``df_counts``: optional (term, df) relation; pass it when ``postings``
    is a SUBSET of the corpus (e.g. the seed vectors in more_like_this) so
    idf stays corpus-level. Defaults to counting df from ``postings``.

    Plan: one hash-agg for df, broadcast it back onto postings, one
    per-doc window — the keyword-extraction shape that needs no second
    corpus pass because df rides the (vocabulary-sized) broadcast."""
    if df_counts is None:
        df_counts = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    else:
        df_counts = df_counts.select("term", "df")
    scored = postings.join(F.broadcast(df_counts), "term").withColumn(
        "weight",
        F.round(
            F.col("tf").cast("double")
            * F.log(F.lit(float(n_docs)) / F.col("df").cast("double")),
            6,
        ),
    )
    return topk(
        scored, k, None, cols=("doc_id", "rank", "term", "weight"), key="weight",
        part="doc_id", tie="term",
    )


def more_like_this(
    postings: DataFrame,
    stats: DataFrame,
    seed_docs: DataFrame,
    n_docs: int,
    avgdl: float,
    like_terms: int = 10,
    k: int = 5,
    params=None,
    rank_dp: int | None = None,
) -> DataFrame:
    """Lucene MoreLikeThis analog: for each seed doc, extract its top
    ``like_terms`` tf-idf keywords (:func:`doc_keywords` selection rule:
    tf * ln(N/df) rounded 6 dp, weight desc / term asc) and run them as a
    disjunctive BM25 query, excluding the seed doc itself from its own
    results. Returns (seed_id, rank, doc_id, score).

    ``seed_docs``: any DataFrame with a ``doc_id`` column naming the seeds.
    Plan: the seed vectors come off the postings relation via one semi-join
    (broadcast — seeds are query-sized), keyword selection is a per-seed
    window over those few rows, and the second pass is the standard
    one-scan broadcast-join BM25."""
    from defactonlp_spark.config import BM25Params
    from defactonlp_spark.operators.bm25 import score_exhaustive

    params = params or BM25Params()
    seeds = seed_docs.select("doc_id").distinct()
    seed_vecs = postings.join(F.broadcast(seeds), "doc_id", "left_semi")
    # corpus-level df from stats — df over the seed subset would inflate
    # every seed term's idf to near-max and garble the selection
    kw = doc_keywords(seed_vecs, n_docs, k=like_terms, df_counts=stats)
    qterms = kw.select(F.col("doc_id").alias("claim_id"), "term")
    res = score_exhaustive(
        postings, stats, qterms, n_docs, avgdl,
        k=k + 1,  # overfetch 1: the seed itself always matches
        params=params, rank_dp=rank_dp,
    )
    res = res.filter(F.col("doc_id") != F.col("claim_id"))
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


def facet_counts(
    matches: DataFrame,
    doc_attrs: DataFrame,
    facet_cols: list[str],
) -> DataFrame:
    """Lucene-style facets: for each query, count MATCHING docs per value
    of each facet column. ``matches``: (claim_id, doc_id) — any match
    relation (boolean/conjunctive/filtered result sets before the top-k
    cut, or the top-k itself). ``doc_attrs``: doc_id + the facet columns.

    Returns (claim_id, facet, value, n_docs) — one unpivoted relation so
    callers render any number of facet dimensions from one pass.

    Plan: one join (broadcast when the match set is query-sized, shuffle
    otherwise — Catalyst/AQE picks), then one hash agg per facet unioned
    map-side; facet cardinality is typically tiny so the agg output is
    negligible."""
    joined = matches.select("claim_id", "doc_id").join(doc_attrs, "doc_id")
    parts = []
    for c in facet_cols:
        parts.append(
            joined.groupBy("claim_id", F.lit(c).alias("facet"),
                           F.col(c).cast("string").alias("value"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def facet_top_hits(
    scored: DataFrame,
    doc_attrs: DataFrame,
    facet_col: str,
    n_hits: int = 2,
) -> DataFrame:
    """The ES ``terms`` aggregation with a ``top_hits`` sub-aggregation:
    for each query and each value of one facet column, the ``n_hits``
    best-scoring docs in the bucket. ``scored``: (claim_id, doc_id, score)
    — any scored relation (exhaustive BM25, the top-k, a fused ranking).

    Returns (claim_id, <facet_col>, hit_rank, doc_id, score) — hit_rank is
    the position WITHIN the bucket (ES: ``top_hits.hits[i]``), ordered
    score desc then doc_id asc (the engine-wide tie rule).

    Plan: one doc_id join against the facet dim (broadcast when small —
    Catalyst/AQE picks), one window partitioned by (claim, facet value).
    The window's partition count is queries × facet cardinality — tiny —
    but its INPUT is the scored relation, which at web scale is already
    bounded by the caller (feed the top-k or a match-capped relation, not
    the raw corpus)."""
    hits = scored.select("claim_id", "doc_id", "score").join(
        doc_attrs.select("doc_id", facet_col), "doc_id"
    )
    cols = ("claim_id", facet_col, F.col("rank").alias("hit_rank"), "doc_id", "score")
    return topk(hits, n_hits, None, cols=cols, part=["claim_id", facet_col])


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 5,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009 — the standard hybrid
    lexical+vector fusion rule): each input ranking contributes
    1/(rrf_k + rank) per (claim_id, doc_id); candidates are re-ranked by
    the summed score (rounded 9 dp; ties -> doc_id asc).

    ``rankings``: DataFrames with (claim_id, rank, doc_id) — any retrieval
    output in this repo (BM25/WAND/boolean/RM3/MLT/cosine after a rename).
    Rank-only fusion never touches the incomparable raw scores, which is
    exactly why RRF is the robust default for fusing BM25 with cosine.

    Plan: union (no shuffle) -> one hash agg on (claim_id, doc_id) -> one
    per-claim window; cost is the size of the input top-N lists, never the
    corpus."""
    parts = [
        r.select(
            "claim_id", "doc_id",
            (F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("rank").cast("double"))).alias("c"),
        )
        for r in rankings
    ]
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    fused = allp.groupBy("claim_id", "doc_id").agg(
        F.round(F.sum("c"), 9).alias("rrf")
    )
    return topk(fused, k, None, cols=("claim_id", "rank", "doc_id", "rrf"), key="rrf")


def significant_terms(
    postings: DataFrame,
    stats: DataFrame,
    fg_docs: DataFrame,
    n_docs: int,
    k: int = 10,
    min_fg_count: int = 2,
    exclude: DataFrame | None = None,
) -> DataFrame:
    """Significant-terms aggregation (the Elasticsearch `significant_terms`
    shape, JLH scoring): terms OVERREPRESENTED in a foreground doc set
    relative to the whole corpus — "what is this result set about, beyond
    what I searched for".

    ``fg_docs``: (claim_id, doc_id) — the foreground per claim. Callers
    should pass a BOUNDED set (the BM25 top-F docs — ES's sampler >
    significant_terms pattern) so cost is query-sized at any corpus scale;
    an unbounded match set over a head term would drag its whole posting
    list in. ``exclude``: optional (claim_id, term) to drop (typically the
    query's own terms — trivially significant).

    Pinned scoring (the DuckDB twin computes the identical doubles):
      fgp   = fg_count / fg_size     (term's doc rate in the foreground)
      bgp   = df / N                 (background rate, full-corpus df)
      JLH   = (fgp - bgp) * (fgp / bgp)
    keep terms with fg_count >= min_fg_count and fgp > bgp, top-k per
    claim by (round(jlh,6) desc, term asc).

    Plan: ONE doc-keyed join of the (claims x F)-sized foreground onto the
    postings relation (broadcast), a (claim, term) hash aggregate, then a
    broadcast of per-term df onto the aggregate — the postings relation is
    touched once.
    """
    fg_size = fg_docs.groupBy("claim_id").agg(
        F.count(F.lit(1)).cast("double").alias("fg_size")
    )
    fg_terms = (
        postings.join(F.broadcast(fg_docs), "doc_id", "inner")
        .groupBy("claim_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("fg_count"))
        .filter(F.col("fg_count") >= min_fg_count)
    )
    if exclude is not None:
        fg_terms = fg_terms.join(exclude, ["claim_id", "term"], "left_anti")
    scored = (
        fg_terms.join(stats.select("term", "df"), "term", "inner")
        .join(F.broadcast(fg_size), "claim_id", "inner")
        .withColumn("fgp", F.col("fg_count") / F.col("fg_size"))
        .withColumn("bgp", F.col("df").cast("double") / F.lit(float(n_docs)))
        .filter(F.col("fgp") > F.col("bgp"))
        .withColumn("jlh", (F.col("fgp") - F.col("bgp")) * (F.col("fgp") / F.col("bgp")))
    )
    cols = (
        "claim_id", "rank", "term", "fg_count",
        F.col("df").cast("long").alias("bg_count"),
        F.round("jlh", 6).alias("jlh"),
    )
    return topk(scored, k, 6, cols=cols, key="jlh", tie="term")


def value_histogram(
    df: DataFrame,
    width: float,
    value_col: str = "value",
    group_col: str | None = None,
) -> DataFrame:
    """Fixed-interval histogram facet (the Elasticsearch `histogram`
    aggregation): bin = floor(value / width), one hash aggregate, bins with
    zero rows are simply absent (ES `min_doc_count=1` behavior). Optional
    ``group_col`` gives per-group histograms (ES sub-aggregation shape).

    Output: ([group], bin, lo, n, mean_value) — lo = bin * width, the
    bucket's inclusive lower edge. Pure codegen; floor on doubles is
    identical IEEE in Spark and DuckDB, so the twin hash-matches.
    """
    bin_col = F.floor(F.col(value_col) / F.lit(float(width))).cast("long")
    keys = ([group_col] if group_col else []) + ["bin"]
    return (
        df.withColumn("bin", bin_col)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg(value_col), 6).alias("mean_value"),
        )
        .withColumn("lo", F.round(F.col("bin") * F.lit(float(width)), 6))
        .select(*keys, "lo", "n", "mean_value")
    )


def ranking_rbo(
    ranks_a: DataFrame,
    ranks_b: DataFrame,
    k: int = 10,
    p: float = 0.9,
) -> DataFrame:
    """Truncated rank-biased overlap (Webber et al., TOIS 2010 — the
    standard top-weighted ranking-similarity metric): compare two top-k
    rankings per claim, e.g. the pruned-tier ranking against the full
    index's (how much ranking damage did static pruning cause?).

    Inputs: (claim_id, rank, doc_id) with 1-based ranks. Output:
    (claim_id, overlap_k, rbo) where overlap_k = |A_k ∩ B_k| and
    rbo = round(sum_{d=1..k} (1-p) p^(d-1) X_d / d, 6) with
    X_d = |A_1..d ∩ B_1..d| (the finite prefix of Webber eq. 4 — no
    extrapolation, so identical rankings at depth k score
    1 - p^k, not 1).

    Engine portability: the depth weights (1-p)p^(d-1)/d are computed ONCE
    in Python and fed to BOTH engines as literal doubles (a k-row
    broadcast table here, a VALUES list in the twin) — pow() in two
    engines is not guaranteed bit-identical, a shared literal is.

    Plan: one (claim, doc) equi-join of the two k-sized rankings, a range
    join against the k-row weights table, one aggregate — everything is
    query-sized.
    """
    spark = ranks_a.sparkSession
    weights = [(d, (1.0 - p) * p ** (d - 1) / d) for d in range(1, k + 1)]
    wdf = spark.createDataFrame(weights, "d int, w double")
    a = ranks_a.select("claim_id", F.col("rank").alias("_ra"), "doc_id").filter(
        F.col("_ra") <= k
    )
    b = ranks_b.select("claim_id", F.col("rank").alias("_rb"), "doc_id").filter(
        F.col("_rb") <= k
    )
    both = a.join(b, ["claim_id", "doc_id"], "inner").select(
        "claim_id", F.greatest("_ra", "_rb").alias("_dmin")
    )
    contrib = both.join(F.broadcast(wdf), F.col("_dmin") <= F.col("d"), "inner")
    agg = (
        contrib.groupBy("claim_id")
        .agg(
            F.sum(F.when(F.col("d") == k, 1).otherwise(0)).cast("long").alias("overlap_k"),
            F.round(F.sum("w"), 6).alias("rbo"),
        )
    )
    # Zero-overlap claims produce no contrib rows; without this left join
    # they would silently VANISH from the output and bias any downstream
    # mean-RBO upward (ADVICE r3). Every claim appearing in either ranking
    # gets a row; no intersection -> rbo = 0.0, the metric's true value.
    ids = (
        a.select("claim_id").union(b.select("claim_id")).distinct()
    )
    return ids.join(agg, "claim_id", "left").select(
        "claim_id",
        F.coalesce(F.col("overlap_k"), F.lit(0)).cast("long").alias("overlap_k"),
        F.coalesce(F.col("rbo"), F.lit(0.0)).alias("rbo"),
    )


def composite_agg(
    df: DataFrame,
    keys: list[str],
    aggs: list,
    size: int = 10,
    after: tuple | None = None,
) -> DataFrame:
    """The ES ``composite`` aggregation: paginate over ALL buckets of a
    multi-source group-by in bucket-key order, ``size`` buckets per page,
    ``after`` = the previous page's last bucket key — the agg-side
    search_after (ordinary terms aggs cannot page; composite exists so a
    client can stream every bucket of a high-cardinality group-by).

    ``aggs``: ready Column expressions (e.g. ``F.count(F.lit(1)).cast(
    "long").alias("doc_count")``). Buckets order by the key columns asc
    (nulls excluded, the ES default source behavior); ``after`` compares
    lexicographically on the key tuple, strictly greater.

    Scale shape — the reason this paginates at 10^12 rows: the after-key
    predicate is applied to the INPUT rows, not the finished buckets
    (groups are wholly >after or wholly <=after, so the rewrite is exact),
    which means it reaches the parquet scan as a PushedFilter on the
    leading key column; the per-page cost is a pruned scan + partial agg +
    one global top-``size`` sort of surviving buckets
    (TakeOrderedAndProject — no full bucket sort, no full bucket
    materialization). Page N never pays for pages 1..N-1's buckets.
    """
    cur = df
    for c in keys:
        cur = cur.filter(F.col(c).isNotNull())
    if after is not None:
        gt = F.lit(False)
        for i in range(len(keys) - 1, -1, -1):
            gt = (F.col(keys[i]) > F.lit(after[i])) | (
                (F.col(keys[i]) == F.lit(after[i])) & gt
            )
        cur = cur.filter(gt)
    return (
        cur.groupBy(*keys)
        .agg(*aggs)
        .orderBy(*[F.asc(c) for c in keys])
        .limit(size)
    )


def cardinality_agg(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    mode: str = "exact",
    rsd: float = 0.05,
) -> DataFrame:
    """The ES ``cardinality`` aggregation: distinct count of ``value_col``
    per group. Two tiers:

    - ``mode="exact"``: TWO-PHASE exact distinct — dedup on
      (group, value) first, then count per group. At 10^12 rows this is
      the shape that survives: the dedup is a re-aggregable partial
      (map-side combine shrinks each partition to its local distincts
      before the shuffle), and no executor ever holds a per-group hash set
      of the whole value domain — unlike countDistinct inside a single
      aggregate, which builds exactly that. This tier is the oracle twin.
    - ``mode="approx"``: HyperLogLog++ (``approx_count_distinct``, the
      same sketch family ES uses) at relative standard deviation ``rsd`` —
      constant memory per group, mergeable, the 10^12-row default. Bounded
      against the exact tier in pytest (no cross-engine twin: sketch
      estimates are implementation-specific).

    -> (group_cols..., distinct_count long).
    """
    if mode == "approx":
        return df.groupBy(*group_cols).agg(
            F.approx_count_distinct(value_col, rsd).alias("distinct_count")
        )
    return (
        df.select(*group_cols, value_col)
        .distinct()
        .groupBy(*group_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("distinct_count"))
    )


def date_histogram_pipeline(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    mov_window: int = 3,
) -> DataFrame:
    """The ES pipeline-aggregation family over a ``date_histogram``:
    per-hour buckets with gap filling (``min_doc_count: 0``), then

    - ``derivative``     — bucket count minus the previous bucket's count
      (null for the first bucket, ES semantics);
    - ``cumulative_sum`` — running total of the bucket counts;
    - ``moving_fn avg``  — trailing mean of the bucket counts over the
      last ``mov_window`` buckets INCLUDING the current one.

    -> (bucket, n_events, sum_value, derivative, cumulative, moving_avg)
    ordered by bucket.

    Scale shape: the only data-scale pass is the groupBy(date_trunc) —
    partial-aggregated map-side, one shuffle on the bucket key. Everything
    after operates on the BUCKET relation, whose size is the time range in
    hours (metadata-scale: a year is 8,760 rows at 10^12 input rows), so
    the gap-filling grid (one 1-row bounds agg + sequence/explode) and the
    single-partition ordered window are driver-bounded by construction,
    not by data volume. Empty buckets get n_events=0 and sum_value=0.0
    (the ES ``sum`` aggregation's empty-bucket value).
    """
    bucket = F.date_trunc("hour", F.col(ts_col))
    buckets = events.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(value_col).alias("sum_value"),
    )
    bounds = buckets.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("bucket")
    )
    dense = (
        grid.join(buckets, "bucket", "left")
        .withColumn("n_events", F.coalesce(F.col("n_events"), F.lit(0)).cast("long"))
        .withColumn("sum_value", F.coalesce(F.col("sum_value"), F.lit(0.0)))
    )
    w = Window.orderBy("bucket")  # bucket relation: metadata-scale (see above)
    return (
        dense.withColumn(
            "derivative", F.col("n_events") - F.lag("n_events").over(w)
        )
        .withColumn(
            "cumulative",
            F.sum("n_events").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn(
            "moving_avg",
            F.avg("n_events").over(w.rowsBetween(-(mov_window - 1), 0)),
        )
        .orderBy("bucket")
    )


def extended_stats(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """The ES ``extended_stats`` aggregation: count, min, max, sum, avg,
    sum_of_squares, population variance and standard deviation per group.

    Everything derives from the re-aggregable partials
    (count, sum, sum_sq, min, max) — ONE shuffle with map-side combine, the
    same merge tree ES uses across shards. Variance uses the
    sum-of-squares identity var = sum_sq/n - (sum/n)^2 with explicit
    association so the arithmetic is portable across engines (the
    streaming/Welford formulations are implementation-specific).

    -> (group_cols..., count, min, max, sum, avg, sum_of_squares,
        variance, std_deviation).
    """
    v = F.col(value_col).cast("double")
    agg = df.groupBy(*group_cols).agg(
        F.count(v).alias("count"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
        F.sum(v).alias("sum"),
        F.sum(v * v).alias("sum_of_squares"),
    )
    n = F.col("count").cast("double")
    mean = F.col("sum") / n
    var = F.col("sum_of_squares") / n - mean * mean
    return agg.select(
        *group_cols,
        "count", "min", "max", "sum",
        mean.alias("avg"),
        "sum_of_squares",
        var.alias("variance"),
        F.sqrt(var).alias("std_deviation"),
    )


def percentile_ranks(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    values: list[float],
) -> DataFrame:
    """ES ``percentile_ranks`` aggregation, exact tier: for each requested
    value v, the percentage of observed values <= v per group (ES's
    TDigest approximates this; like ``value_percentiles`` this repo's
    small-SF tier is exact, and the approximate tier at 10^12 rows is the
    same relational shape over a sketch column).

    Plan: broadcast the (tiny, literal) values relation onto the scan —
    each input row fans out to len(values) rows map-side — then ONE hash
    aggregate with map-side combine on (group, value).  No window, no
    sort of data-scale rows.

    -> (group_cols..., value, pct) with pct = 100 * count(<=v) / count.
    """
    spark = df.sparkSession
    # probe column named to avoid colliding with the input's own columns
    vals = spark.createDataFrame([(float(v),) for v in values], "__pr_value double")
    le = (F.col(value_col).cast("double") <= F.col("__pr_value")).cast("double")
    return (
        df.crossJoin(F.broadcast(vals))
        .groupBy(*group_cols, "__pr_value")
        .agg((F.avg(le) * F.lit(100.0)).alias("pct"))
        .withColumnRenamed("__pr_value", "value")
    )


MATRIX_FIELD_PAIRS = None  # sentinel: all i<j pairs


def matrix_stats(
    df: DataFrame,
    group_cols: list[str],
    fields: list[str],
) -> DataFrame:
    """ES ``matrix_stats`` aggregation: per group and field pair (i < j),
    count, means, POPULATION covariance and Pearson correlation.

    Everything derives from re-aggregable partials (n, sum_i, sum_ii,
    sum_ij) — ONE shuffle with map-side combine, then a metadata-scale
    unpivot of the pair grid (|fields| choose 2 rows per group).  The
    identities are written with explicit association so the DuckDB twin
    reproduces them bit-for-bit:
      cov(i,j)  = sum_ij/n - (sum_i/n)*(sum_j/n)
      corr(i,j) = cov(i,j) / sqrt(var_i * var_j)
    (ES computes the sample covariance; the population form is pinned
    here because it composes from the same partials without the n/(n-1)
    correction — documented divergence.)

    -> (group_cols..., field_x, field_y, count, mean_x, mean_y,
        covariance, correlation).
    """
    cols = {f: F.col(f).cast("double") for f in fields}
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for f in fields:
        aggs.append(F.sum(cols[f]).alias(f"s_{f}"))
        aggs.append(F.sum(cols[f] * cols[f]).alias(f"ss_{f}"))
    pairs = [(a, b) for i, a in enumerate(fields) for b in fields[i + 1 :]]
    for a, b in pairs:
        aggs.append(F.sum(cols[a] * cols[b]).alias(f"sx_{a}_{b}"))
    g = df.groupBy(*group_cols).agg(*aggs)
    n = F.col("n")
    rows = []
    for a, b in pairs:
        mean_a, mean_b = F.col(f"s_{a}") / n, F.col(f"s_{b}") / n
        var_a = F.col(f"ss_{a}") / n - mean_a * mean_a
        var_b = F.col(f"ss_{b}") / n - mean_b * mean_b
        cov = F.col(f"sx_{a}_{b}") / n - mean_a * mean_b
        corr = cov / F.sqrt(var_a * var_b)
        rows.append(
            F.struct(
                F.lit(a).alias("field_x"),
                F.lit(b).alias("field_y"),
                mean_a.alias("mean_x"),
                mean_b.alias("mean_y"),
                cov.alias("covariance"),
                corr.alias("correlation"),
            )
        )
    return g.select(
        *group_cols,
        n.cast("long").alias("count"),
        F.explode(F.array(*rows)).alias("p"),
    ).select(
        *group_cols,
        F.col("p.field_x").alias("field_x"),
        F.col("p.field_y").alias("field_y"),
        "count",
        F.col("p.mean_x").alias("mean_x"),
        F.col("p.mean_y").alias("mean_y"),
        F.col("p.covariance").alias("covariance"),
        F.col("p.correlation").alias("correlation"),
    )


def terms_bucket_pipeline(
    df: DataFrame,
    group_col: str,
    value_col: str,
    min_avg: float,
    size: int = 10,
) -> DataFrame:
    """The ES sibling-pipeline trio over a ``terms`` aggregation:
    ``bucket_script`` (derive avg_value = sum/count per bucket),
    ``bucket_selector`` (keep buckets with avg_value > min_avg — the
    HAVING clause ES spells as a painless script), and ``bucket_sort``
    (order by avg_value desc, truncate to ``size``).

    Plan: ONE hash aggregate on the bucket key (map-side combine); the
    script/selector/sort all run on the BUCKET relation (metadata-scale
    = key cardinality), expressed as projection + filter + distributed
    top-k (TakeOrderedAndProject) — never a second pass over input rows.

    -> (bucket, n_rows, sum_value, avg_value) sorted by avg desc.
    """
    v = F.col(value_col).cast("double")
    buckets = df.groupBy(F.col(group_col).alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(v).alias("sum_value"),
    )
    scripted = buckets.withColumn(
        "avg_value", F.col("sum_value") / F.col("n_rows").cast("double")
    )
    selected = scripted.filter(F.round("avg_value", 6) > F.lit(float(min_avg)))
    return selected.orderBy(
        F.round("avg_value", 6).desc(), F.asc("bucket")
    ).limit(size)


def adjacency_matrix(
    docs: DataFrame,
    filters: dict[str, str],
    text_col: str = "text",
) -> DataFrame:
    """ES ``adjacency_matrix`` aggregation: named term filters A, B, C...
    -> doc counts for every filter and every pairwise intersection,
    keyed "a", "a&b", ... (ES's separator), empty buckets dropped.

    Filter semantics: the named term occurs in the doc's token stream
    (the engine tokenizer — same normalization as the index).  Per-doc
    flags are ONE map-side projection over the scan (array_contains on
    the token array); the matrix is ONE global aggregate of flag
    products (a single row), unpivoted to (key, doc_count) at
    metadata-scale.  No join, no shuffle of doc-proportional data.
    """
    names = sorted(filters)
    t = tokens_col(text_col)
    flags = docs.select(
        *[
            F.array_contains(t, filters[nm]).cast("long").alias(f"f_{nm}")
            for nm in names
        ]
    )
    keys = [(nm, F.col(f"f_{nm}")) for nm in names]
    keys += [
        (f"{a}&{b}", F.col(f"f_{a}") * F.col(f"f_{b}"))
        for i, a in enumerate(names)
        for b in names[i + 1 :]
    ]
    agg = flags.agg(*[F.sum(expr).alias(f"k_{j}") for j, (_, expr) in enumerate(keys)])
    rows = [
        F.struct(F.lit(nm).alias("key"), F.col(f"k_{j}").alias("doc_count"))
        for j, (nm, _) in enumerate(keys)
    ]
    return (
        agg.select(F.explode(F.array(*rows)).alias("p"))
        .select(F.col("p.key").alias("key"), F.col("p.doc_count").cast("long").alias("doc_count"))
        .filter(F.col("doc_count") > 0)
    )


def weighted_avg(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """ES ``weighted_avg`` aggregation: sum(value*weight)/sum(weight) per
    group, from two re-aggregable partial sums — ONE shuffle with map-side
    combine.  Rows with a NULL value or weight are skipped entirely (the
    ES default: no value_missing/weight_missing substitution).

    -> (group_cols..., n_rows, weighted_avg).
    """
    v = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("double")
    ok = v.isNotNull() & w.isNotNull()
    return (
        df.filter(ok)
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(v * w).alias("_swv"),
            F.sum(w).alias("_sw"),
        )
        .select(
            *group_cols,
            "n_rows",
            (F.col("_swv") / F.col("_sw")).alias("weighted_avg"),
        )
    )


def bigram_completion(
    docs: DataFrame,
    prefixes: DataFrame,
    k: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """The ES ``search_as_you_type`` / ``match_bool_prefix`` completion
    shape at bigram granularity: given (sugg_id, first, prefix) rows —
    a fully-typed first word and a partial second word — return the top-k
    corpus bigram completions "first prefix..." ranked by bigram frequency
    (count desc, completion asc; pinned total order, count ties break on
    the string).

    Plan: the corpus bigram relation (one map-side explode) -> ONE hash
    aggregate on (w1, w2); the tiny prefix relation broadcasts onto it
    (equi-join on w1 = first + a startswith residual — never a cartesian);
    per-sugg_id top-k via window over matched candidates only.  At 10^12
    docs the bigram dictionary is the Heaps-law-bounded relation the
    suggester family already serves from.

    -> (sugg_id, rank, completion, n_occurrences).
    """
    big = token_bigrams(docs, text_col=text_col).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    cand = big.join(
        F.broadcast(prefixes),
        (F.col("w1") == F.col("first")) & F.col("w2").startswith(F.col("prefix")),
        "inner",
    )
    cols = ("sugg_id", "rank", F.concat_ws(" ", "w1", "w2").alias("completion"), "n_occurrences")
    return topk(cand, k, None, cols=cols, key="n_occurrences", part="sugg_id", tie="w2")


# ---------------------------------------------------------------------------
# Round-4 continuation: the remaining ES metric aggregations with exact
# cross-engine semantics — string_stats, median_absolute_deviation, boxplot,
# t_test (Welch), rate, multi_terms, auto_date_histogram. Everything is
# re-aggregable partials or exact percentiles; no sketches, no UDFs.
# ---------------------------------------------------------------------------


def string_stats(
    df: DataFrame,
    group_cols: list[str],
    text_col: str = "text",
) -> DataFrame:
    """ES ``string_stats`` aggregation (with ``show_distribution``'s
    underlying computation): per group — count, min_length, max_length,
    avg_length, and the Shannon entropy (bits) of the group's CHARACTER
    distribution, the ES duplicate-detection signal.

    Plan: one length aggregate over the rows, plus one char-histogram
    aggregate (split-to-chars explode -> two-level groupBy with map-side
    combine) joined per group. The explode is corpus-sized but carries
    single chars — at 10^12 docs this is the same envelope as tokenize.
    Entropy = -sum p*log2(p) over chars, log2 pinned as ln*INV_LN2.

    -> (group_cols..., count, min_length, max_length, avg_length, entropy)
    """
    inv_ln2 = 1.4426950408889634
    ln = F.length(F.col(text_col))
    lens = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("count"),
        F.min(ln).cast("long").alias("min_length"),
        F.max(ln).cast("long").alias("max_length"),
        F.avg(ln.cast("double")).alias("avg_length"),
    )
    chars = (
        df.select(*group_cols, F.explode(F.split(F.col(text_col), "")).alias("ch"))
        .filter(F.col("ch") != "")  # Spark split('') may emit a trailing ''
        .groupBy(*group_cols, "ch")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    tot = chars.groupBy(*group_cols).agg(F.sum("c").alias("t"))
    ent = (
        chars.join(tot, group_cols, "inner")
        .withColumn(
            "h",
            -(F.col("c") / F.col("t"))
            * (F.log(F.col("c") / F.col("t")) * F.lit(inv_ln2)),
        )
        .groupBy(*group_cols)
        .agg(F.sum("h").alias("entropy"))
    )
    return lens.join(ent, group_cols, "inner").select(
        *group_cols, "count", "min_length", "max_length", "avg_length", "entropy"
    )


def median_absolute_deviation(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """ES ``median_absolute_deviation``, exact tier (ES ships a TDigest
    approximation; the exact two-pass definition is the oracle-checkable
    spec): mad = median(|x - median(x)|) per group, linear-interpolated
    percentiles (Spark ``percentile`` == DuckDB ``quantile_cont``).

    Plan: two percentile aggregates with a broadcast of the per-group
    medians between them — the group relation is metadata-scale next to
    the rows. -> (group_cols..., median, mad)
    """
    v = F.col(value_col).cast("double")
    med = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("median")
    )
    return (
        df.join(F.broadcast(med), group_cols, "inner")
        .withColumn("absdev", F.abs(v - F.col("median")))
        .groupBy(*group_cols)
        .agg(
            F.first("median").alias("median"),
            F.expr("percentile(absdev, 0.5)").alias("mad"),
        )
        .select(*group_cols, "median", "mad")
    )


def boxplot_agg(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """ES ``boxplot`` aggregation, exact tier: min, q1, q2, q3, max and
    IQR per group (ES adds TDigest approximation and data-clamped whiskers;
    the five-number summary is the portable spec).
    -> (group_cols..., min, q1, q2, q3, max, iqr)"""
    v = F.col(value_col).cast("double")
    q = F.expr(f"percentile({value_col}, array(0.25, 0.5, 0.75))")
    agg = df.groupBy(*group_cols).agg(
        F.min(v).alias("min"), F.max(v).alias("max"), q.alias("qs")
    )
    return agg.select(
        *group_cols,
        "min",
        F.col("qs")[0].alias("q1"),
        F.col("qs")[1].alias("q2"),
        F.col("qs")[2].alias("q3"),
        "max",
        (F.col("qs")[2] - F.col("qs")[0]).alias("iqr"),
    )


def t_test_welch(
    df: DataFrame,
    filter_a,
    filter_b,
    value_col: str,
) -> DataFrame:
    """ES ``t_test`` aggregation, ``type: heteroscedastic`` (Welch's
    unpaired t): two filtered populations from one scan.

      t  = (m_a - m_b) / sqrt(s2_a/n_a + s2_b/n_b)
      df = Welch–Satterthwaite effective degrees of freedom

    with SAMPLE variances s2 = (sum_sq - sum^2/n) / (n - 1), all from one
    pass of re-aggregable partials (count/sum/sum_sq under two codegen'd
    CASE masks — the same single-scan trick as the boolean scorer). ES
    additionally converts t to a p-value via the t-distribution CDF; that
    final scalar lookup is client-side here (no portable SQL CDF), so the
    operator emits (n_a, n_b, mean_a, mean_b, t_stat, df).
    """
    v = F.col(value_col).cast("double")
    a = F.when(filter_a, v)
    b = F.when(filter_b, v)
    agg = df.agg(
        F.count(a).cast("double").alias("n_a"),
        F.sum(a).alias("s_a"),
        F.sum(a * a).alias("ss_a"),
        F.count(b).cast("double").alias("n_b"),
        F.sum(b).alias("s_b"),
        F.sum(b * b).alias("ss_b"),
    )
    # Welch t is undefined below 2 observations per side: emit NULL stats
    # (never an ANSI divide-by-zero) so degenerate filters surface as data,
    # not as a job failure
    ok = (F.col("n_a") >= 2.0) & (F.col("n_b") >= 2.0)
    m_a, m_b = F.col("s_a") / F.col("n_a"), F.col("s_b") / F.col("n_b")
    var_a = (F.col("ss_a") - F.col("s_a") * F.col("s_a") / F.col("n_a")) / (F.col("n_a") - 1.0)
    var_b = (F.col("ss_b") - F.col("s_b") * F.col("s_b") / F.col("n_b")) / (F.col("n_b") - 1.0)
    va_n, vb_n = var_a / F.col("n_a"), var_b / F.col("n_b")
    t = F.when(ok, (m_a - m_b) / F.sqrt(va_n + vb_n))
    dof = F.when(
        ok,
        (va_n + vb_n) * (va_n + vb_n)
        / (va_n * va_n / (F.col("n_a") - 1.0) + vb_n * vb_n / (F.col("n_b") - 1.0)),
    )
    m_a = F.when(F.col("n_a") >= 1.0, m_a)
    m_b = F.when(F.col("n_b") >= 1.0, m_b)
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        m_a.alias("mean_a"),
        m_b.alias("mean_b"),
        t.alias("t_stat"),
        dof.alias("df"),
    )


def rate_agg(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    unit_hours: int = 24,
) -> DataFrame:
    """ES ``rate`` aggregation inside a daily ``date_histogram``: per day
    bucket, sum(value) normalized to a per-hour rate (bucket size /
    ``unit_hours`` = 24 for day buckets, the ES unit-conversion rule).
    -> (day, n_events, sum_value, rate_per_hour)"""
    day = F.date_trunc("day", F.col(ts_col)).alias("day")
    return (
        events.groupBy(day)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col(value_col).cast("double")).alias("sum_value"),
        )
        .withColumn("rate_per_hour", F.col("sum_value") / F.lit(float(unit_hours)))
        .select("day", "n_events", "sum_value", "rate_per_hour")
    )


def multi_terms(
    df: DataFrame,
    key_cols: list[str],
    metric_col: str,
    size: int = 10,
) -> DataFrame:
    """ES ``multi_terms`` aggregation: terms buckets keyed by a TUPLE of
    fields, ordered doc_count desc then keys asc, top ``size``, with an
    avg sub-aggregation. One hash aggregate + one tiny global top-N (the
    bucket relation is already aggregated — TakeOrdered, never a full
    sort of rows). -> (key_cols..., doc_count, avg_metric)"""
    agg = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("doc_count"),
        F.avg(F.col(metric_col).cast("double")).alias("avg_metric"),
    )
    return agg.orderBy(F.desc("doc_count"), *[F.asc(c) for c in key_cols]).limit(size)


# pinned auto_date_histogram ladder (seconds) — the ES rounding rungs from
# 1 minute up to 1 year (calendar months pinned to 30 days: the synthetic
# events table is epoch-bucketed, fixed intervals are the portable spec)
AUTO_DH_LADDER = [
    60, 300, 600, 1800, 3600, 10800, 43200, 86400, 604800, 2592000, 7776000, 31536000,
]


def auto_date_histogram(
    events: DataFrame,
    target_buckets: int = 20,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """ES ``auto_date_histogram``: pick the smallest ladder interval whose
    epoch-floored bucket count over the data's [min, max] span stays
    within ``target_buckets``, then date-histogram at that interval.

    The interval choice needs only (min_ts, max_ts) — a metadata-scale
    scalar aggregate (same contract as corpus_stats); the chosen
    ``interval_sec`` is emitted on every row so a cross-engine oracle
    checks the SELECTION, not just the bucketing.
    -> (interval_sec, bucket_start, doc_count, sum_value)
    """
    lo, hi = events.agg(
        F.min(F.unix_timestamp(F.col(ts_col))).alias("lo"),
        F.max(F.unix_timestamp(F.col(ts_col))).alias("hi"),
    ).collect()[0]
    if lo is None:  # empty input: no span to fit a ladder rung to (ADVICE r4)
        return events.sparkSession.createDataFrame(
            [], "interval_sec long, bucket_start long, doc_count long, sum_value double"
        )
    interval = AUTO_DH_LADDER[-1]
    for rung in AUTO_DH_LADDER:
        if hi // rung - lo // rung + 1 <= target_buckets:
            interval = rung
            break
    bucket = (F.unix_timestamp(F.col(ts_col)) / F.lit(interval)).cast("long") * F.lit(interval)
    return (
        events.groupBy(bucket.alias("bucket_start"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("doc_count"),
            F.sum(F.col(value_col).cast("double")).alias("sum_value"),
        )
        .withColumn("interval_sec", F.lit(interval).cast("long"))
        .select("interval_sec", "bucket_start", "doc_count", "sum_value")
    )


def random_sampler(
    df: DataFrame,
    id_col: str,
    group_cols: list[str],
    value_col: str,
    permille: int = 100,
) -> DataFrame:
    """ES ``random_sampler`` aggregation, deterministic tier: sample rows
    whose md5-hash bucket (of 1000) falls below ``permille``, compute the
    sub-aggregations on the sample, and report the inverse-probability
    corrected count (the ES estimator). Hash sampling — not rand() — so
    the sample is reproducible across engines, retries, and partitionings;
    ES seeds its PRNG for the same reason.

      bucket(id) = int(md5(id)[:8], 16) % 1000;  keep bucket < permille

    -> (group_cols..., n_sampled, est_count, avg_value). One scan with a
    codegen'd hash filter + one hash aggregate; the filter prunes before
    the shuffle so the agg sees permille/1000 of the rows.
    """
    if not 0 < permille <= 1000:
        raise ValueError(f"permille must be in (0, 1000], got {permille}")
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 1000
    )
    factor = 1000.0 / float(permille)
    return (
        df.filter(bucket < permille)
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            F.avg(F.col(value_col).cast("double")).alias("avg_value"),
        )
        .select(
            *group_cols,
            "n_sampled",
            (F.col("n_sampled") * F.lit(factor)).alias("est_count"),
            "avg_value",
        )
    )


def diversified_sampler(
    ranked: DataFrame,
    meta: DataFrame,
    key_col: str = "source",
    max_per_value: int = 2,
    sample_size: int = 10,
) -> DataFrame:
    """ES ``diversified_sampler`` aggregation: walk a retrieval ranking in
    rank order, keep at most ``max_per_value`` docs per ``key_col`` value
    (host-crowding de-duplication), stop at ``sample_size``, then compute
    the sub-aggregations on the diversified sample.

    ``ranked``: any (claim_id, rank, doc_id, score) retrieval output;
    ``meta``: (doc_id, key_col) — corpus-sized, so the TINY ranked relation
    broadcasts onto it (never the reverse). Two metadata-scale windows pick
    the sample; one aggregate summarizes it.
    -> (claim_id, n_sample, n_values, avg_score)
    """
    j = meta.select("doc_id", key_col).join(F.broadcast(ranked), "doc_id", "inner")
    wv = Window.partitionBy("claim_id", key_col).orderBy(F.asc("rank"))
    ws = Window.partitionBy("claim_id").orderBy(F.asc("rank"))
    sample = (
        j.withColumn("_per_v", F.row_number().over(wv))
        .filter(F.col("_per_v") <= max_per_value)
        .withColumn("_pos", F.row_number().over(ws))
        .filter(F.col("_pos") <= sample_size)
    )
    return sample.groupBy("claim_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sample"),
        F.countDistinct(key_col).cast("long").alias("n_values"),
        F.avg("score").alias("avg_score"),
    )


def corpus_zipf(postings: DataFrame, min_freq: int = 1) -> DataFrame:
    """Zipf rank-frequency diagnostic over the corpus unigram distribution
    (the sanity check LLM-data work runs on every new crawl slice): ranks
    terms by total frequency, least-squares fit of ln(freq) on ln(rank).

      slope ~ -1 on natural text (Zipf's law); a flat slope flags
      boilerplate-dominated or template corpora.

    Fit from re-aggregable sums (the matrix_stats identities, explicit
    association so the arithmetic is portable): slope = cov(x,y)/var(x),
    r2 = corr^2. One vocab-sized aggregate + one window over the
    Heaps-bounded dictionary — never touches the corpus twice.
    -> single row (n_terms, slope, intercept, r2)

    Scale note (honest): the rank assignment is a GLOBAL ordered
    row_number — a single-task sort over the dictionary. Fine to ~10^8
    terms; at a 10^10-term noise-heavy web dictionary, pass ``min_freq``
    > 1 to fit on the frequency-filtered head (standard Zipf practice —
    the hapax tail deviates from the power law anyway and is the bulk of
    the vocabulary, so min_freq=2 typically halves the sorted relation
    and min_freq=10 cuts it ~10x without moving the fitted slope). The
    filter is applied BEFORE the sort, inside the same aggregate.
    """
    totals = postings.groupBy("term").agg(F.sum("tf").cast("double").alias("freq"))
    if min_freq > 1:
        totals = totals.filter(F.col("freq") >= float(min_freq))
    w = Window.orderBy(F.desc("freq"), F.asc("term"))
    xy = totals.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log("freq").alias("y"),
    )
    agg = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    mx, my = F.col("sx") / n, F.col("sy") / n
    cov = F.col("sxy") / n - mx * my
    vx = F.col("sxx") / n - mx * mx
    vy = F.col("syy") / n - my * my
    fit_ok = vx > 0.0
    slope = F.when(fit_ok, cov / vx)
    return agg.select(
        n.cast("long").alias("n_terms"),
        slope.alias("slope"),
        F.when(fit_ok, my - slope * mx).alias("intercept"),
        F.when(fit_ok & (vy > 0.0), cov * cov / (vx * vy)).alias("r2"),
    )


def heaps_growth(postings: DataFrame, bucket_docs: int = 50) -> DataFrame:
    """Heaps-law vocabulary-growth curve: cumulative (docs seen, tokens
    seen, distinct vocabulary) sampled at doc-id bucket boundaries —
    ln(vocab) vs ln(tokens) should be near-linear with exponent beta in
    [0.4, 0.6] on natural text.

    Scale shape: per-term first-occurrence doc (one term-keyed aggregate),
    per-doc lengths (one doc-keyed aggregate), both collapsed to
    ``bucket_docs``-sized buckets BEFORE the cumulative window — the
    ordered prefix sum runs over the metadata-scale bucket relation only
    (pick bucket_docs so n_docs/bucket_docs is thousands at most).
    -> (bucket, n_docs_seen, n_tokens_seen, vocab_size)
    """
    b = lambda c: (F.col(c) / F.lit(int(bucket_docs))).cast("long")  # noqa: E731
    per_doc = postings.groupBy("doc_id").agg(F.max("dl").cast("long").alias("dl"))
    doc_b = per_doc.groupBy(b("doc_id").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.sum("dl").cast("long").alias("toks"),
    )
    first = postings.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    new_b = first.groupBy(b("first_doc").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("new_terms")
    )
    joined = doc_b.join(new_b, "bucket", "left").fillna(0, ["new_terms"])
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "bucket",
        F.sum("docs").over(w).cast("long").alias("n_docs_seen"),
        F.sum("toks").over(w).cast("long").alias("n_tokens_seen"),
        F.sum("new_terms").over(w).cast("long").alias("vocab_size"),
    )


def ndcg_eval(
    ranking: DataFrame,
    truth: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Graded ranking evaluation — nDCG@k + reciprocal rank — of a
    candidate ranking against a reference ranking (the graded companion to
    :func:`ranking_rbo`'s rank-overlap view; the standard regression gate
    for approximate serving tiers like pruned or quantized indexes).

    Grades derive from the REFERENCE rank (pinned):
      g(rank) = max(0, 4 - (rank-1) // 2)   -> 4,4,3,3,2,2,1,1,0...
      DCG@k   = sum over eval positions p<=k of (2^g - 1) / log2(p+1)
      IDCG@k  = the same sum over the reference's own top-k (by definition
                the best achievable ordering of its grades)
      rr      = 1 / first eval position with g >= 3 (0 when none)

    Claims present in the reference but absent from the evaluated ranking
    score 0 (the ES/trec_eval convention) rather than vanishing. Both
    inputs are top-k relations — everything here is metadata-scale.
    -> (claim_id, dcg, idcg, ndcg, rr)
    """
    inv_ln2 = 1.4426950408889634
    grade = F.greatest(
        F.lit(0.0),
        F.lit(4.0) - F.floor((F.col("t_rank") - 1) / 2).cast("double"),
    )
    t = truth.select("claim_id", F.col("doc_id"), F.col("rank").alias("t_rank"))
    t = t.withColumn("g", grade)
    gain = (F.pow(F.lit(2.0), F.col("g")) - F.lit(1.0))
    idcg = (
        t.filter(F.col("t_rank") <= k)
        .withColumn("d", gain / (F.log(F.col("t_rank").cast("double") + 1.0) * F.lit(inv_ln2)))
        .groupBy("claim_id")
        .agg(F.sum("d").alias("idcg"))
    )
    ev = ranking.select("claim_id", "doc_id", F.col("rank").alias("pos")).filter(
        F.col("pos") <= k
    )
    dcg = (
        ev.join(t.select("claim_id", "doc_id", "g"), ["claim_id", "doc_id"], "left")
        .fillna(0.0, ["g"])
        .withColumn("d", gain / (F.log(F.col("pos").cast("double") + 1.0) * F.lit(inv_ln2)))
        .groupBy("claim_id")
        .agg(
            F.sum("d").alias("dcg"),
            F.min(F.when(F.col("g") >= 3.0, F.col("pos"))).alias("first_rel"),
        )
    )
    return (
        idcg.join(dcg, "claim_id", "left")
        .select(
            "claim_id",
            F.coalesce(F.col("dcg"), F.lit(0.0)).alias("dcg"),
            "idcg",
            F.when(
                F.col("idcg") > 0.0,
                F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg"),
            ).alias("ndcg"),  # all-grade-zero reference: undefined, not 0/0
            F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0)).alias("rr"),
        )
    )


def frequent_item_sets(
    items: DataFrame,
    min_support: int,
    per_doc_cap: int = 12,
    max_len: int = 3,
    top: int = 20,
) -> DataFrame:
    """ES ``frequent_item_sets`` aggregation (market-basket mining),
    apriori-style up to 3-item sets:

      L1 = items with doc support >= min_support
      per-doc working set = the ``per_doc_cap`` highest-support L1 items
           (ties item asc) — the deterministic analog of ES's sampling
           cap, and the term that bounds the pair fan-out per doc
      L2 = same-doc pairs (a < b) with support >= min_support
      L3 = L2 pairs extended by a same-doc item c > b, support-filtered

    ``items``: (doc_id, item) — distinct per doc (pass postings'
    (doc_id, term) or any basket relation). Output ordered
    (support desc, items asc), top ``top`` rows; items are rendered
    space-joined so one relation carries every set size.
    -> (size, items, support)

    Scale: the L1 support filter prunes BEFORE any self-join (apriori);
    the per-doc cap bounds pair fan-out at C(cap, 2) rows per doc; L3
    only joins docs that still hold an L2 pair. Every join is doc-keyed.
    """
    sup1 = items.groupBy("item").agg(F.count(F.lit(1)).cast("long").alias("s1"))
    l1 = sup1.filter(F.col("s1") >= min_support)
    capped = topk(
        items.join(F.broadcast(l1), "item", "inner"), per_doc_cap, None,
        cols=("doc_id", "item"), key="s1", part="doc_id", tie="item",
    )
    out_parts = [
        l1.select(
            F.lit(1).alias("size"),
            F.col("item").alias("items"),
            F.col("s1").alias("support"),
        )
    ]
    if max_len >= 2:
        a = capped.select("doc_id", F.col("item").alias("ia"))
        b = capped.select("doc_id", F.col("item").alias("ib"))
        pairs = (
            a.join(b, "doc_id", "inner")
            .filter(F.col("ia") < F.col("ib"))
            .groupBy("ia", "ib")
            .agg(F.count(F.lit(1)).cast("long").alias("support"))
            .filter(F.col("support") >= min_support)
        )
        out_parts.append(
            pairs.select(
                F.lit(2).alias("size"),
                F.concat_ws(" ", "ia", "ib").alias("items"),
                "support",
            )
        )
        if max_len >= 3:
            pair_docs = (
                a.join(b, "doc_id", "inner")
                .filter(F.col("ia") < F.col("ib"))
                .join(F.broadcast(pairs.select("ia", "ib")), ["ia", "ib"], "left_semi")
            )
            c = capped.select("doc_id", F.col("item").alias("ic"))
            triples = (
                pair_docs.join(c, "doc_id", "inner")
                .filter(F.col("ic") > F.col("ib"))
                .groupBy("ia", "ib", "ic")
                .agg(F.count(F.lit(1)).cast("long").alias("support"))
                .filter(F.col("support") >= min_support)
            )
            out_parts.append(
                triples.select(
                    F.lit(3).alias("size"),
                    F.concat_ws(" ", "ia", "ib", "ic").alias("items"),
                    "support",
                )
            )
    allsets = out_parts[0]
    for part in out_parts[1:]:
        allsets = allsets.unionByName(part)
    return allsets.orderBy(F.desc("support"), F.asc("items")).limit(top)


def top_metrics(
    df: DataFrame,
    group_col: str,
    sort_col: str,
    metric_cols: list[str],
    size: int = 1,
    descending: bool = True,
    tie_col: str | None = None,
) -> DataFrame:
    """ES ``top_metrics`` aggregation: per bucket, the metric values taken
    from the row(s) with the top ``sort_col`` value (e.g. "the latest
    event's value per event type" — a keyed argmax, the thing ES added
    because top_hits fetches whole documents when you want two fields).

    One window per group (row_number over sort desc); ties break on
    ``tie_col`` asc (required for engine-portable output when the sort
    key can repeat). Scale: the window partitions by the bucket key —
    the same dense shuffle any per-key top-k does; no global sort.
    -> (group, rank, sort_value, <metric_cols...>)
    """
    order = [F.desc(sort_col) if descending else F.asc(sort_col)]
    if tie_col:
        order.append(F.asc(tie_col))
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= size)
        .select(
            group_col, "rank", F.col(sort_col).alias("sort_value"), *metric_cols
        )
    )


def serial_diff(
    events: DataFrame,
    lag: int = 7,
    bucket_sec: int = 86400,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """ES ``serial_diff`` pipeline aggregation: date-histogram the metric,
    then difference each bucket against the bucket ``lag`` steps earlier
    (lag=7 on daily buckets = week-over-week change; lag=1 = derivative).

    ES computes the lag over the existing bucket SEQUENCE (gaps skipped by
    its default skip gap policy); this pins the same rule — lag counts
    buckets, not wall-clock. The ordered window runs over the BUCKET
    relation (metadata-scale after the histogram aggregate), so the
    single-partition WindowExec is deliberate — same contract as
    date_histogram_pipeline. First ``lag`` buckets emit NULL.
    -> (bucket_start, sum_value, serial_diff)
    """
    bucket = (
        (F.unix_timestamp(F.col(ts_col)) / F.lit(bucket_sec)).cast("long")
        * F.lit(bucket_sec)
    )
    agg = events.groupBy(bucket.alias("bucket_start")).agg(
        F.sum(F.col(value_col).cast("double")).alias("sum_value")
    )
    w = Window.orderBy("bucket_start")
    return agg.select(
        "bucket_start",
        "sum_value",
        (F.col("sum_value") - F.lag("sum_value", lag).over(w)).alias("serial_diff"),
    )


def rare_terms(
    stats: DataFrame,
    max_doc_count: int = 1,
    limit: int = 100,
) -> DataFrame:
    """ES ``rare_terms`` aggregation: the long-tail terms whose document
    frequency is <= ``max_doc_count`` (the opposite selection of terms/
    significant_terms — "what almost never occurs").

    Dictionary-scale input (the term stats relation, never postings). The
    honest cap: on web corpora hapax legomena are ~half the vocabulary
    (Zipf), so an uncapped result is corpus-sized — ``limit`` (term asc,
    deterministic) bounds the driver-facing result the same way ES bounds
    buckets; callers wanting the full relation keep the DataFrame lazy.
    -> (term, df) ordered term asc
    """
    return (
        stats.filter(F.col("df") <= max_doc_count)
        .select("term", "df")
        .orderBy(F.asc("term"))
        .limit(limit)
    )


def date_range_agg(
    events: DataFrame,
    ranges: list[tuple[str, int | None, int | None]],
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """ES ``date_range`` aggregation: explicit [from, to) buckets (epoch
    seconds; None = open end). ES buckets are INDEPENDENT — overlapping
    ranges each count the row, which is why this is not a CASE ladder:
    the tiny range list broadcasts onto one scan and rows multi-match.

    -> (range_key, from_sec, to_sec, doc_count, sum_value); every named
    range appears even when empty (doc_count 0, sum NULL) — ES contract.
    """
    spark = events.sparkSession
    LO, HI = -(1 << 62), (1 << 62)
    rdf = spark.createDataFrame(
        [(k, lo, hi) for k, lo, hi in ranges],
        "range_key string, from_sec long, to_sec long",
    ).fillna({"from_sec": LO, "to_sec": HI})
    ts = F.unix_timestamp(F.col(ts_col))
    hits = (
        events.select(ts.alias("_ts"), F.col(value_col).cast("double").alias("_v"))
        .join(
            F.broadcast(rdf),
            (F.col("_ts") >= F.col("from_sec")) & (F.col("_ts") < F.col("to_sec")),
            "inner",
        )
        .groupBy("range_key", "from_sec", "to_sec")
        .agg(
            F.count(F.lit(1)).cast("long").alias("doc_count"),
            F.sum("_v").alias("sum_value"),
        )
    )
    # empty named ranges must still appear: preserve the range list with a
    # RIGHT outer whose BUILD side is the aggregated hits relation (<= N
    # ranges rows) — broadcast build-left is the supported shape here;
    # broadcasting the PRESERVED side of an outer join is not a thing
    return (
        F.broadcast(hits)
        .join(rdf, ["range_key", "from_sec", "to_sec"], "right")
        .select(
            "range_key",
            F.when(F.col("from_sec") == LO, F.lit(None)).otherwise(F.col("from_sec")).alias("from_sec"),
            F.when(F.col("to_sec") == HI, F.lit(None)).otherwise(F.col("to_sec")).alias("to_sec"),
            F.coalesce(F.col("doc_count"), F.lit(0)).alias("doc_count"),
            "sum_value",
        )
    )


def filters_agg(
    df: DataFrame,
    named_filters: dict[str, "F.Column"],
    value_col: str = "value",
) -> DataFrame:
    """ES ``filters`` aggregation: one named bucket per predicate, each
    with doc_count + an avg sub-metric. ONE scan, zero joins: every
    bucket is a conditional aggregate (sum(when)) in the same scalar
    aggregate, then the single result row unpivots to (bucket, ...) rows
    via a literal stack — the plan any columnar engine wants, and the
    reason this beats N filtered subqueries at 100 TB.
    -> (bucket, doc_count, avg_value), bucket order = dict order
    """
    aggs = []
    for name, cond in named_filters.items():
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"n_{name}")
        )
        aggs.append(
            F.avg(F.when(cond, F.col(value_col).cast("double"))).alias(f"a_{name}")
        )
    row = df.agg(*aggs)
    names = list(named_filters)
    stack = ", ".join(f"'{n}', n_{n}, a_{n}" for n in names)
    return row.selectExpr(
        f"stack({len(names)}, {stack}) as (bucket, doc_count, avg_value)"
    )


def domain_mix_kl(
    docs: DataFrame,
    target_mix: dict[str, float],
    group_col: str = "source",
    weight_col: str | None = "n_chars",
) -> DataFrame:
    """Training-mix QA: per-source actual share of the corpus (by
    ``weight_col`` mass, or by docs when None) against a TARGET mixture,
    with each source's contribution to KL(actual || target) — the number
    a data-mixing pipeline alarms on when a crawl snapshot drifts from
    the recipe (Gao 2020 The Pile / Xie 2023 DoReMi report mixtures this
    way). Sources absent from the target get NULL contrib (undefined
    support — surfaced, not hidden); shares are rounded to 9 dp BEFORE
    the log so both engines exponentiate identical doubles.
    Scale: one hash aggregate over the corpus, then dictionary-sized
    arithmetic. -> (source, n_docs, mass, actual_share, target_share,
    kl_contrib) ordered source asc
    """
    w = (
        F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    )
    agg = docs.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(w).alias("mass"),
    )
    total = agg.agg(F.sum("mass").alias("_t"))
    spark = docs.sparkSession
    tgt = spark.createDataFrame(
        list(target_mix.items()), f"{group_col} string, target_share double"
    )
    out = (
        agg.crossJoin(F.broadcast(total))
        .withColumn("actual_share", F.round(F.col("mass") / F.col("_t"), 9))
        .join(F.broadcast(tgt), group_col, "left")
        .withColumn(
            "kl_contrib",
            F.round(
                F.col("actual_share")
                * F.log(F.col("actual_share") / F.col("target_share")),
                9,
            ),
        )
    )
    return out.select(
        group_col, "n_docs", "mass", "actual_share", "target_share", "kl_contrib"
    ).orderBy(F.asc(group_col))


def significant_text(
    docs: DataFrame,
    postings: DataFrame,
    stats: DataFrame,
    fg_docs: DataFrame,
    n_docs: int,
    k: int = 10,
    min_fg_count: int = 2,
    exclude: DataFrame | None = None,
    text_col: str = "text",
) -> DataFrame:
    """ES ``significant_text``: significant_terms re-analyzed from the
    text of the HITS, with the aggregation's signature knob —
    ``filter_duplicate_text`` — ON: near-boilerplate copies (exact text
    duplicates here, ES uses a dedup of the analyzed token stream) are
    dropped from the FOREGROUND before counting, so a mirrored page
    cannot vote its vocabulary into significance multiple times. The
    background stays the full corpus stats.

    Composition: md5(text) keep-min-doc_id dedup of the foreground
    (broadcast-sized — it is a per-claim top-F sampler set), then the
    pinned JLH scoring of :func:`significant_terms`. -> same schema.
    """
    fg_texts = fg_docs.join(
        docs.select("doc_id", F.md5(F.col(text_col)).alias("_h")), "doc_id", "inner"
    )
    w = Window.partitionBy("claim_id", "_h").orderBy(F.asc("doc_id"))
    fg_dedup = (
        fg_texts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("claim_id", "doc_id")
    )
    return significant_terms(
        postings, stats, fg_dedup, n_docs, k=k,
        min_fg_count=min_fg_count, exclude=exclude,
    )
