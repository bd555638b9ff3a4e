"""Link-graph analytics over the web corpus: PageRank (and the shared
edge/out-degree relations a hyperlink graph needs).

At web scale the link graph is THE classic iterative Spark workload
(Brin & Page 1998; the power-iteration formulation with damping and
dangling-mass redistribution follows the standard treatment, e.g.
Langville & Meyer). Everything here is DataFrame algebra:

- one shuffle per iteration (the contribution groupBy on dst) plus the
  rank join — exactly the PageRank lower bound; no RDDs, no per-row
  Python.
- the dangling-node mass is a ONE-ROW aggregate crossJoin'd back
  (broadcast), never a driver round-trip inside the loop.
- lineage is cut with eager ``localCheckpoint`` every
  ``checkpoint_every`` iterations — the same guard the Kiveris
  connected-components loop uses (operators/dedup.py). For PageRank the
  default is EVERY iteration, and not only for lineage depth: each
  iteration references r_t TWICE (dangling mass + contributions), so the
  physical tree between checkpoints duplicates subplans 2^k-fold —
  Catalyst emits no ReusedExchange across them, the same
  double-reference recompute the minhash relations hit (README "no
  silent recompute"). Measured at sf0.01/10 iters: checkpoint every 3 =
  12.3 s, every 1 = 3.5 s. HITS's chain references each level once
  (linear), so it keeps the every-3 cadence.

The corpus fixture has no href column, so the edge relation is
SYNTHESIZED deterministically from doc ids by pure integer arithmetic
(``synthetic_edges``): dst_j = (src * 1103 + j * 2477) mod N for
j = 1..out_degree, self-loops dropped, deduplicated. The formula is
engine-portable (same semantics in Spark SQL and DuckDB), which is what
makes the twin possible: the DuckDB oracle rebuilds the identical graph
and runs the identical power iteration as a programmatically UNROLLED
chain of CTEs (one pair of CTEs per iteration) — a full value-hash twin
for an iterative algorithm that would otherwise get only a rows-only
check. In production the same operators run over real (src, dst) edges
extracted from the HTML — ``functions/extract.py::link_edges`` (href
kernel + urljoin resolution, pinned spec, tested end-to-end into this
pagerank in test_extract.py::test_link_edges_feed_pagerank); only
``synthetic_edges`` is fixture-specific.

Float contract: ranks are reported scaled by N (so magnitudes are O(1))
and rounded to 6 dp; per-node in-degree is ~out_degree, so cross-engine
summation-order drift is ~1e-15 against a 5e-7 rounding quantum — the
same magnitude-vs-quantum argument every round-6 twin here relies on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_MULT_A = 1103
PR_MULT_B = 2477
PR_OUT_DEGREE = 5
PR_DAMPING = 0.85
PR_ITERS = 10


def synthetic_edges(
    docs: DataFrame,
    n_docs: int,
    out_degree: int = PR_OUT_DEGREE,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic pseudo-random directed edges over the doc-id space:
    dst_j = (src * A + j * B) mod N, j = 1..out_degree; self-loops
    dropped, (src, dst) deduplicated, and dst semi-joined back to the
    node set so non-contiguous id spaces cannot leak rank mass to
    nonexistent nodes. Pure codegen arithmetic — one projection + one
    distinct."""
    nodes = docs.select(F.col(id_col).cast("long").alias("id"))
    edges = (
        nodes.withColumn("j", F.explode(F.sequence(F.lit(1), F.lit(out_degree))))
        .select(
            F.col("id").alias("src"),
            ((F.col("id") * PR_MULT_A + F.col("j") * PR_MULT_B) % n_docs).alias("dst"),
        )
        .filter(F.col("dst") != F.col("src"))
        .distinct()
    )
    return edges.join(nodes.withColumnRenamed("id", "dst"), "dst", "left_semi")


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    n_docs: int,
    damping: float = PR_DAMPING,
    iters: int = PR_ITERS,
    checkpoint_every: int = 1,
    weight_col: str | None = None,
    checkpoint_final: bool = True,
) -> DataFrame:
    """Power iteration with damping and dangling-mass redistribution:

        r_{t+1}(v) = (1-d)/N + d * ( sum_{u->v} r_t(u)*w(u,v)/wout(u) + D_t/N )

    where D_t is the total rank held by dangling nodes (no out-edges) and
    w(u,v) is the edge weight (1 when ``weight_col`` is None — then
    wout(u) = outdeg(u) and this is classic unweighted PageRank; with a
    weight column it is the weighted variant TextRank uses, Mihalcea &
    Tarau 2004 eq. 2). ``nodes`` must have column ``id`` (any orderable
    type — doc ids here, terms for TextRank); ``edges`` columns
    (src, dst[, weight_col]). Returns (id, pr) with raw (unscaled,
    unrounded) double ranks summing to ~1. One shuffle per iteration;
    dangling mass is a 1-row broadcast.
    """
    return _power_iteration(
        nodes, edges, n_docs, damping, iters, checkpoint_every, weight_col, None,
        checkpoint_final,
    )


def personalized_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    n_docs: int,
    seeds: list,
    damping: float = PR_DAMPING,
    iters: int = PR_ITERS,
    checkpoint_every: int = 1,
    weight_col: str | None = None,
) -> DataFrame:
    """Topic-sensitive / personalized PageRank (Haveliwala 2002): the
    teleport distribution concentrates on ``seeds`` (uniform over the seed
    set) instead of all nodes, so ranks measure proximity TO the seeds —
    the "related pages" / topic-affinity variant. Dangling mass recycles
    to the seed set too (the random surfer restarts at the topic). Seeds
    are request-shaped (a Python list) by contract, like query ids."""
    if not seeds:
        raise ValueError("personalized_pagerank: empty seed set")
    return _power_iteration(
        nodes, edges, n_docs, damping, iters, checkpoint_every, weight_col,
        list(seeds), True,
    )


def _power_iteration(
    nodes: DataFrame,
    edges: DataFrame,
    n_docs: int,
    damping: float,
    iters: int,
    checkpoint_every: int,
    weight_col: str | None,
    seeds: list | None,
    checkpoint_final: bool = True,
) -> DataFrame:
    """Shared damped power-iteration core. ``seeds=None`` teleports
    uniformly (classic PageRank); a seed list teleports uniformly over the
    seeds (personalized). The teleport column ``tp`` is a codegen
    expression, not a join — seeds are an in-plan literal IN-list."""
    if iters < 1:
        raise ValueError(f"pagerank: iters must be >= 1, got {iters}")
    if weight_col is None:
        edges = edges.select("src", "dst", F.lit(1.0).alias("w"))
    else:
        edges = edges.select("src", "dst", F.col(weight_col).cast("double").alias("w"))
    outdeg = edges.groupBy("src").agg(F.sum("w").alias("deg"))
    # (src, dst, deg) — materialized once, reused every iteration
    ed = edges.join(outdeg, "src").persist()
    dangling = nodes.join(
        edges.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
    ).persist()
    if seeds is None:
        # classic teleport: this branch's float expression is PINNED —
        # base + d*(c + dmass/N), the exact operation order the unrolled
        # DuckDB twins replay — do not reassociate it.
        base = (1.0 - damping) / n_docs
        init = F.lit(1.0 / n_docs)

        def new_pr():
            return (
                F.lit(base)
                + F.lit(damping)
                * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("dmass") / n_docs)
            )
    else:
        # personalized: teleport (and dangling recycle) concentrate on the
        # seed IN-list; codegen expression, no join
        tp = F.when(F.col("id").isin(seeds), F.lit(1.0 / len(seeds))).otherwise(
            F.lit(0.0)
        )
        init = tp

        def new_pr():
            return (
                F.lit(1.0 - damping) + F.lit(damping) * F.col("dmass")
            ) * tp + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))

    ranks = nodes.withColumn("pr", init)
    for t in range(iters):
        dm = dangling.join(ranks, "id").agg(
            F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dmass")
        )
        contrib = (
            ed.join(ranks.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("w") / F.col("deg")).alias("c"))
        )
        ranks = (
            nodes.join(contrib.withColumnRenamed("dst", "id"), "id", "left")
            .crossJoin(F.broadcast(dm))
            .select("id", new_pr().alias("pr"))
        )
        # checkpoint on cadence AND at the final iteration: the trailing
        # checkpoint pins the result in an RDD so the persisted edge
        # relations can be released below without the caller's FIRST
        # action silently recomputing the whole upstream pipeline
        # (tokenize + window + aggregate for TextRank — measured 465 s ->
        # ~90 s at 320k docs for exactly this reason)
        # cadence governs non-final iterations; the final iteration is
        # governed solely by checkpoint_final (False = keep the loop body
        # visible in the returned plan, for audits)
        if (t + 1 < iters and (t + 1) % checkpoint_every == 0) or (
            checkpoint_final and t + 1 == iters
        ):
            ranks = ranks.localCheckpoint(eager=True)
    out = ranks
    ed.unpersist()
    dangling.unpersist()
    return out


def link_pagerank_topn(
    docs: DataFrame,
    topn: int = 20,
    out_degree: int = PR_OUT_DEGREE,
    damping: float = PR_DAMPING,
    iters: int = PR_ITERS,
    id_col: str = "doc_id",
) -> DataFrame:
    """End-to-end fixture entry: synthesize the deterministic link graph,
    run ``iters`` damped power iterations, return the top-``topn`` docs.
    -> (rank, doc_id, pr_scaled) with pr_scaled = round(pr * N, 6) and
    ordering (pr_scaled desc, doc_id asc)."""
    n_docs = docs.count()
    nodes = docs.select(F.col(id_col).cast("long").alias("id"))
    edges = synthetic_edges(docs, n_docs, out_degree, id_col=id_col)
    pr = pagerank(nodes, edges, n_docs, damping=damping, iters=iters)
    scored = pr.select(
        F.col("id").alias("doc_id"), F.round(F.col("pr") * n_docs, 6).alias("pr_scaled")
    )
    # top-n via sort+limit (TakeOrderedAndProject: per-partition top-n,
    # driver merge of topn rows) — NOT an unpartitioned row_number window,
    # which would single-task the whole node set; the rank column is then
    # numbered over the topn-row result only.
    from pyspark.sql import Window

    top = scored.orderBy(F.desc("pr_scaled"), F.asc("doc_id")).limit(topn)
    w = Window.orderBy(F.desc("pr_scaled"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "doc_id", "pr_scaled"
    )


HITS_ITERS = 6


def hits(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = HITS_ITERS,
    checkpoint_every: int = 3,
    checkpoint_final: bool = True,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1998, JACM): mutual
    reinforcement over the link graph —

        auth_{t+1}(v) = sum_{u->v} hub_t(u)
        hub_{t+1}(u)  = sum_{u->v} auth_{t+1}(v)

    normalized ONCE at the end, to sum 1 per side (power iteration is
    scale-invariant — any consistent normalization yields the same
    principal-eigenvector ranking, so the classic per-step renorm would
    only add 2 aggregates + 2 broadcasts per iteration; magnitudes grow
    as (avg_deg^2)^iters, ~1e11 at the defaults — nowhere near double
    overflow, and the twin replays the identical unnormalized
    recursion). Nodes outside the edge set hold exactly 0. Degenerate
    contract: an edgeless side totals 0 and its scores stay all 0
    (guarded division, never an error).

    Same execution envelope as :func:`pagerank`: two shuffled join+agg
    per iteration, eager localCheckpoint every ``checkpoint_every``
    rounds. Returns (id, auth, hub) doubles, each side summing to 1."""
    if iters < 1:
        raise ValueError(f"hits: iters must be >= 1, got {iters}")
    ed = edges.select("src", "dst").persist()
    n_nodes = nodes.count()
    hub = nodes.withColumn("s", F.lit(1.0 / n_nodes))

    def _step(src_scores: DataFrame, key_in: str, key_out: str) -> DataFrame:
        return nodes.join(
            ed.join(src_scores.withColumnRenamed("id", key_in), key_in)
            .groupBy(key_out)
            .agg(F.sum("s").alias("s"))
            .withColumnRenamed(key_out, "id"),
            "id",
            "left",
        ).select("id", F.coalesce(F.col("s"), F.lit(0.0)).alias("s"))

    auth = None
    for t in range(iters):
        auth = _step(hub, "src", "dst")
        hub = _step(auth, "dst", "src")
        # final-iteration checkpoint for the same reason as pagerank's:
        # release ed below without recompute on the caller's first action
        if (t + 1 < iters and (t + 1) % checkpoint_every == 0) or (
            checkpoint_final and t + 1 == iters
        ):
            auth = auth.localCheckpoint(eager=True)
            hub = hub.localCheckpoint(eager=True)
    ed.unpersist()

    def _normed(df: DataFrame, name: str) -> DataFrame:
        z = df.agg(F.sum("s").alias("z"))
        return df.crossJoin(F.broadcast(z)).select(
            "id",
            F.when(F.col("z") != 0.0, F.col("s") / F.col("z"))
            .otherwise(F.lit(0.0))
            .alias(name),
        )

    return _normed(auth, "auth").join(_normed(hub, "hub"), "id")


def link_hits_topn(
    docs: DataFrame,
    topn: int = 20,
    out_degree: int = PR_OUT_DEGREE,
    iters: int = HITS_ITERS,
    id_col: str = "doc_id",
) -> DataFrame:
    """HITS over the same deterministic link graph as
    :func:`link_pagerank_topn`; top-``topn`` AUTHORITIES with their hub
    scores alongside. -> (rank, doc_id, auth_scaled, hub_scaled), scaled
    by N and rounded to 6 dp, ordered (auth_scaled desc, doc_id asc)."""
    n_docs = docs.count()
    nodes = docs.select(F.col(id_col).cast("long").alias("id"))
    edges = synthetic_edges(docs, n_docs, out_degree, id_col=id_col)
    hh = hits(nodes, edges, iters=iters)
    scored = hh.select(
        F.col("id").alias("doc_id"),
        F.round(F.col("auth") * n_docs, 6).alias("auth_scaled"),
        F.round(F.col("hub") * n_docs, 6).alias("hub_scaled"),
    )
    from pyspark.sql import Window

    top = scored.orderBy(F.desc("auth_scaled"), F.asc("doc_id")).limit(topn)
    w = Window.orderBy(F.desc("auth_scaled"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "doc_id", "auth_scaled", "hub_scaled"
    )


TEXTRANK_MIN_COUNT = 3
TEXTRANK_TOPN = 20
TEXTRANK_ITERS = 6


def cooccurrence_edges(
    tokens: DataFrame,
    min_count: int = TEXTRANK_MIN_COUNT,
) -> DataFrame:
    """Term co-occurrence graph from the positional tokens relation
    (doc_id, pos, term): undirected edges between ADJACENT tokens
    (window = 2, the TextRank default), weighted by corpus-wide pair
    count, pairs below ``min_count`` pruned (bounds the graph to the
    frequent co-occurrence core — dictionary-scale by Heaps). Identical
    adjacent terms ("the the") are excluded. Emitted as BOTH directions
    of each undirected pair so the weighted-PageRank operator consumes it
    directly. One per-doc window pass + one pair aggregate."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    nxt = tokens.withColumn("nxt", F.lead("term").over(w)).filter(
        F.col("nxt").isNotNull() & (F.col("nxt") != F.col("term"))
    )
    und = (
        nxt.select(
            F.least("term", "nxt").alias("t1"), F.greatest("term", "nxt").alias("t2")
        )
        .groupBy("t1", "t2")
        .agg(F.count("*").cast("double").alias("w"))
        .filter(F.col("w") >= min_count)
    )
    return und.select(
        F.col("t1").alias("src"), F.col("t2").alias("dst"), "w"
    ).unionAll(und.select(F.col("t2").alias("src"), F.col("t1").alias("dst"), "w"))


def textrank_keywords(
    docs: DataFrame,
    topn: int = TEXTRANK_TOPN,
    min_count: int = TEXTRANK_MIN_COUNT,
    damping: float = PR_DAMPING,
    iters: int = TEXTRANK_ITERS,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004), corpus-level:
    weighted PageRank over the adjacent-term co-occurrence graph; the
    top-``topn`` terms are the corpus's graph-central keywords. The
    undirected graph has no dangling nodes by construction (every node
    appears as a src), so the dangling term contributes exactly 0 — the
    shared :func:`pagerank` loop is reused unchanged.

    -> (rank, term, score_scaled) with score_scaled = round(pr * V, 6)
    (V = node count, so magnitudes are O(1)), ordered
    (score_scaled desc, term asc). Pass a precomputed positional
    ``tokens`` relation to share the session-cached one."""
    if tokens is None:
        from defactonlp_spark.functions.tokenize import tokenize_tokens

        tokens = tokenize_tokens(docs)
    edges = cooccurrence_edges(tokens, min_count).persist()
    nodes = edges.select(F.col("src").alias("id")).distinct().persist()
    n_nodes = nodes.count()
    if n_nodes == 0:
        edges.unpersist()
        nodes.unpersist()
        spark = docs.sparkSession
        return spark.createDataFrame([], "rank long, term string, score_scaled double")
    pr = pagerank(nodes, edges, n_nodes, damping=damping, iters=iters, weight_col="w")
    scored = pr.select(
        F.col("id").alias("term"),
        F.round(F.col("pr") * n_nodes, 6).alias("score_scaled"),
    )
    from pyspark.sql import Window

    top = scored.orderBy(F.desc("score_scaled"), F.asc("term")).limit(topn)
    w = Window.orderBy(F.desc("score_scaled"), F.asc("term"))
    out = top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "term", "score_scaled"
    )
    edges.unpersist()
    nodes.unpersist()
    return out
