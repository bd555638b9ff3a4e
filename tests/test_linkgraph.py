"""Link-graph PageRank: mass conservation, dangling redistribution,
damping limit cases, determinism, and the synthetic edge contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from defactonlp_spark.operators.linkgraph import (
    PR_OUT_DEGREE,
    link_pagerank_topn,
    pagerank,
    synthetic_edges,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_synthetic_edges_shape(spark, docs):
    n = docs.count()
    e = synthetic_edges(docs, n).toPandas()
    assert (e.src != e.dst).all()
    assert e.dst.between(0, n - 1).all()
    assert len(e) == len(e.drop_duplicates())
    # out-degree at most PR_OUT_DEGREE (collisions/self-loops may lower it)
    assert e.groupby("src").size().max() <= PR_OUT_DEGREE


def test_rank_mass_conserved(spark, docs):
    """With dangling-mass redistribution the ranks stay a probability
    distribution: sum(pr) == 1 within float tolerance, every pr > 0."""
    n = docs.count()
    nodes = docs.select(F.col("doc_id").alias("id"))
    edges = synthetic_edges(docs, n)
    pr = pagerank(nodes, edges, n, iters=5).toPandas()
    assert len(pr) == n
    assert abs(pr.pr.sum() - 1.0) < 1e-9
    assert (pr.pr > 0).all()


def test_dangling_node_redistribution(spark):
    """3-node chain a->b->c: c is dangling; its mass must recycle
    uniformly (classic random-surfer fix), keeping sum(pr)=1 and giving
    b more rank than a (b has an in-edge, a only teleport + recycle)."""
    nodes = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    pr = pagerank(nodes, edges, 3, iters=20).toPandas().set_index("id")
    assert abs(pr.pr.sum() - 1.0) < 1e-9
    assert pr.loc[1, "pr"] > pr.loc[0, "pr"]
    assert pr.loc[2, "pr"] > pr.loc[1, "pr"]  # chain accumulates


def test_no_damping_is_uniform(spark):
    """damping=0 -> pure teleport: every node gets exactly 1/N."""
    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    edges = spark.createDataFrame([(0, 1), (2, 3)], "src long, dst long")
    pr = pagerank(nodes, edges, 4, damping=0.0, iters=3).toPandas()
    assert (abs(pr.pr - 0.25) < 1e-12).all()


def test_pagerank_matches_numpy_reference(spark):
    """Random digraphs vs an independent dense numpy power iteration
    (same damping/dangling semantics): every rank within 1e-9."""
    import numpy as np

    for seed in (1, 7, 42):
        rng = np.random.RandomState(seed)
        n = int(rng.randint(5, 25))
        mask = rng.rand(n, n) < 0.25
        np.fill_diagonal(mask, False)
        edges = [(int(i), int(j)) for i in range(n) for j in range(n) if mask[i, j]]
        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        edf = spark.createDataFrame(edges or [(0, 1)], "src long, dst long")
        if not edges:
            edges = [(0, 1)]
        got = (
            pagerank(nodes, edf, n, damping=0.85, iters=12)
            .toPandas().set_index("id").sort_index().pr.to_numpy()
        )
        # dense reference
        A = np.zeros((n, n))
        for i, j in edges:
            A[i, j] = 1.0
        outdeg = A.sum(axis=1)
        r = np.full(n, 1.0 / n)
        for _ in range(12):
            dmass = r[outdeg == 0].sum()
            contrib = np.zeros(n)
            for i in range(n):
                if outdeg[i]:
                    contrib += r[i] * A[i] / outdeg[i]
            r = (1 - 0.85) / n + 0.85 * (contrib + dmass / n)
        assert np.abs(got - r).max() < 1e-9, f"seed {seed}"


def test_personalized_pagerank(spark):
    """Seed-teleport variant: mass stays 1, ranks decay with distance
    from the seed, damping=0 degenerates to the teleport vector, empty
    seeds raise."""
    import pytest as _pt

    from defactonlp_spark.operators.linkgraph import personalized_pagerank

    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    pr = (
        personalized_pagerank(nodes, edges, 4, seeds=[0], iters=20)
        .toPandas().set_index("id").sort_index().pr
    )
    assert abs(pr.sum() - 1.0) < 1e-9
    assert pr[0] > pr[1] > pr[2] > pr[3] > 0  # proximity to the seed
    flat = (
        personalized_pagerank(nodes, edges, 4, seeds=[1, 2], damping=0.0, iters=3)
        .toPandas().set_index("id").sort_index().pr
    )
    assert abs(flat[1] - 0.5) < 1e-12 and abs(flat[2] - 0.5) < 1e-12
    assert flat[0] == 0.0 and flat[3] == 0.0
    with _pt.raises(ValueError):
        personalized_pagerank(nodes, edges, 4, seeds=[])


def test_hits_hub_authority_split(spark):
    """Directed star 0->{1,2,3}: node 0 is the pure hub, 1-3 the pure
    authorities; after normalization auth(1..3)=1/3 each, hub(0)=1."""
    from defactonlp_spark.operators.linkgraph import hits

    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    edges = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "src long, dst long")
    r = hits(nodes, edges, iters=4).toPandas().set_index("id").sort_index()
    assert abs(r.loc[0, "hub"] - 1.0) < 1e-12 and abs(r.loc[0, "auth"]) < 1e-12
    for v in (1, 2, 3):
        assert abs(r.loc[v, "auth"] - 1 / 3) < 1e-12
        assert abs(r.loc[v, "hub"]) < 1e-12
    assert abs(r.auth.sum() - 1.0) < 1e-9 and abs(r.hub.sum() - 1.0) < 1e-9


def test_hits_edgeless_all_zero(spark):
    from defactonlp_spark.operators.linkgraph import hits

    nodes = spark.createDataFrame([(0,), (1,)], "id long")
    edges = spark.createDataFrame([], "src long, dst long")
    r = hits(nodes, edges, iters=2).toPandas()
    assert (r.auth == 0.0).all() and (r.hub == 0.0).all()


@pytest.mark.parametrize("iters", [0, -1])
def test_hits_rejects_no_iterations(spark, iters):
    from defactonlp_spark.operators.linkgraph import hits

    nodes = spark.createDataFrame([(0,), (1,)], "id long")
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError, match="iters"):
        hits(nodes, edges, iters=iters)


@pytest.mark.parametrize("iters", [0, -1])
def test_pagerank_rejects_no_iterations(spark, iters):
    from defactonlp_spark.operators.linkgraph import personalized_pagerank

    nodes = spark.createDataFrame([(0,), (1,)], "id long")
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError, match="iters"):
        pagerank(nodes, edges, 2, iters=iters)
    with pytest.raises(ValueError, match="iters"):
        personalized_pagerank(nodes, edges, 2, [0], iters=iters)


def test_link_hits_entry(spark, docs):
    from defactonlp_spark.operators.linkgraph import link_hits_topn

    a = link_hits_topn(docs, topn=10).toPandas()
    assert list(a.columns) == ["rank", "doc_id", "auth_scaled", "hub_scaled"]
    assert list(a["rank"]) == list(range(1, 11))
    assert a.equals(link_hits_topn(docs, topn=10).toPandas())


def test_cooccurrence_edges_contract(spark):
    """Adjacent pairs only, identical-adjacent excluded, symmetric output,
    min_count prunes."""
    from defactonlp_spark.operators.linkgraph import cooccurrence_edges

    toks = spark.createDataFrame(
        # doc 0: "a b a b"  -> pair (a,b) x3 ; doc 1: "c c d" -> (c,d) x1
        [(0, 0, "a"), (0, 1, "b"), (0, 2, "a"), (0, 3, "b"),
         (1, 0, "c"), (1, 1, "c"), (1, 2, "d")],
        "doc_id long, pos int, term string",
    )
    e = cooccurrence_edges(toks, min_count=2).toPandas()
    assert set(map(tuple, e[["src", "dst"]].values)) == {("a", "b"), ("b", "a")}
    assert (e.w == 3.0).all()  # both directions carry the undirected count
    e1 = cooccurrence_edges(toks, min_count=1).toPandas()
    assert ("c", "c") not in set(map(tuple, e1[["src", "dst"]].values))
    assert ("c", "d") in set(map(tuple, e1[["src", "dst"]].values))


def test_textrank_central_term_wins(spark):
    """A hub term adjacent to many distinct frequent partners out-ranks a
    term locked in a single pair loop of the same raw frequency."""
    from defactonlp_spark.operators.linkgraph import textrank_keywords

    rows = []
    # 'core' co-occurs with 6 partners, each pair 3 times
    for i, p in enumerate(["p1", "p2", "p3", "p4", "p5", "p6"]):
        rows.append((i, " ".join(["core " + p] * 3)))
    # 'loner' only ever pairs with 'mate', 18 times total
    rows.append((10, " ".join(["loner mate"] * 18)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    r = textrank_keywords(docs, topn=20, min_count=2).toPandas()
    ranks = {t: int(k) for k, t in zip(r["rank"], r["term"])}
    assert ranks["core"] < ranks["loner"]
    assert ranks["core"] == 1


def test_textrank_empty_corpus(spark):
    from defactonlp_spark.operators.linkgraph import textrank_keywords

    docs = spark.createDataFrame([(0, "x"), (1, "")], "doc_id long, text string")
    r = textrank_keywords(docs, topn=5, min_count=2).toPandas()
    assert len(r) == 0  # no pair reaches min_count -> empty graph -> empty


def test_topn_entry_shape_and_determinism(spark, docs):
    a = link_pagerank_topn(docs, topn=20).toPandas()
    b = link_pagerank_topn(docs, topn=20).toPandas()
    assert a.equals(b)
    assert list(a.columns) == ["rank", "doc_id", "pr_scaled"]
    assert list(a["rank"]) == list(range(1, 21))
    # scaled ranks are O(1) by construction (pr * N)
    assert a.pr_scaled.between(0.0, 10.0).all()
    # descending, ties broken by doc_id ascending
    for i in range(1, len(a)):
        prev, cur = a.iloc[i - 1], a.iloc[i]
        assert (cur.pr_scaled < prev.pr_scaled) or (
            cur.pr_scaled == prev.pr_scaled and cur.doc_id > prev.doc_id
        )
