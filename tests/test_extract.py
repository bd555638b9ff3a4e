"""B1 extractor: byte-identical per-url extraction against golden fixtures."""

import hashlib
import json
import os

import pandas as pd
import pytest

from defactonlp_spark.functions.extract import extract_text_one, with_extracted_text
from defactonlp_spark.sources.fixtures import gen_webpages, make_html

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "extract", "golden.json")


def test_scalar_basics():
    assert extract_text_one(b"<html><body><p>hello world</p></body></html>") == "hello world"
    assert extract_text_one(b"<body>a &amp; b &lt;c&gt;</body>") == "a & b <c>"
    assert extract_text_one(b"<head><title>nope</title></head><body>x</body>") == "x"
    assert extract_text_one(b"<script>var x=1;</script>yes<style>.a{}</style>") == "yes"
    assert extract_text_one(b"  <p>a</p>\n\t<p>b</p> ") == "a b"
    assert extract_text_one(b"") == ""
    assert extract_text_one(None) is None
    assert extract_text_one(b"\xff\xfe broken") is None  # not utf-8 -> NULL
    # unicode survives byte-exactly
    s = "café naïve 漢字"
    assert extract_text_one(f"<body>{s}</body>".encode()) == s


def test_inverts_fixture_wrapper():
    texts = ["the merge join", "a & b < c > d", "café Σigma", ""]
    for i, t in enumerate(texts):
        assert extract_text_one(make_html(i, t)) == t


def test_golden_bytes():
    """50 representative pages frozen as (url, sha256(text)). Regenerating the
    fixture must reproduce EXACT bytes — the extraction invariant."""
    pages = gen_webpages(n=50, seed=4242, dup_frac=0.0)
    if not os.path.exists(GOLDEN):  # first run freezes the goldens
        rows = [
            {"url": r.url, "sha256": hashlib.sha256(r.text.encode()).hexdigest()}
            for r in pages.itertuples(index=False)
        ]
        os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
        with open(GOLDEN, "w") as f:
            json.dump(rows, f, indent=1)
    with open(GOLDEN) as f:
        golden = {r["url"]: r["sha256"] for r in json.load(f)}
    assert len(golden) == 50
    for r in pages.itertuples(index=False):
        extracted = extract_text_one(r.html)
        assert hashlib.sha256(extracted.encode()).hexdigest() == golden[r.url], r.url


def test_spark_udf_matches_scalar(spark):
    pdf = gen_webpages(n=40, seed=7, dup_frac=0.0)
    df = spark.createDataFrame(pdf[["url", "html", "text"]])
    out = with_extracted_text(df, "html", "extracted").select("url", "text", "extracted").toPandas()
    pd.testing.assert_series_equal(
        out["extracted"], out["text"], check_names=False
    )


# --- link extraction (functions/extract.py::extract_links_one/link_edges) ---

def test_extract_links_scalar_spec():
    from defactonlp_spark.functions.extract import extract_links_one

    html = (
        "<html><head><a href='/in-head'>x</a></head><body>"
        '<A HREF="https://other.example/a?x=1&amp;y=2#frag">abs</A>'
        "<a href='/rel/path'>rel</a>"
        "<a href=bare.html>bare</a>"
        "<a href='#frag-only'>skip</a>"
        "<a href='javascript:void(0)'>skip</a>"
        "<a href='MAILTO:x@y.z'>skip</a>"
        "<a href='/rel/path'>dup</a>"
        "</body></html>"
    ).encode()
    got = extract_links_one(html, "https://site.example/dir/page.html")
    assert got == [
        "https://site.example/in-head",      # head links count (pre-strip)
        "https://other.example/a?x=1&y=2",   # entity-unescaped, defragged
        "https://site.example/rel/path",     # root-relative
        "https://site.example/dir/bare.html",  # doc-relative, unquoted attr
    ]


def test_extract_href_only_as_a_real_attribute():
    """"href=" inside another attribute's quoted value, or inside a longer
    attribute name, is not an href: attributes are stepped over whole."""
    from defactonlp_spark.functions.extract import extract_anchors_one, extract_links_one

    html = b'<a title="see href=x" href="/real">t</a>'
    assert extract_links_one(html, None) == ["/real"]
    assert extract_anchors_one(html, None) == [("/real", "t")]
    assert extract_links_one(b"<a data-href='/no' href='/yes'>y</a>", None) == ["/yes"]
    assert extract_links_one(b"<a title='x'href='/glued'>g</a>", None) == ["/glued"]
    assert extract_links_one(b"<abbr href='/no'>n</abbr>", None) == []
    # a quoted value after the href may hold '>' without cutting the tag
    assert extract_anchors_one(b'<a href="/x" title="a>b">text</a>', None) == [("/x", "text")]


def test_extract_links_degenerate():
    from defactonlp_spark.functions.extract import extract_links_one

    assert extract_links_one(None, "https://x.example/") == []
    assert extract_links_one(b"\xff\xfe", "https://x.example/") == []  # undecodable
    assert extract_links_one(b"<p>no links</p>", "https://x.example/") == []
    # no base url: absolute kept, relative kept verbatim
    got = extract_links_one(b"<a href='https://a.example/x'>1</a><a href='/y'>2</a>", None)
    assert got == ["https://a.example/x", "/y"]


def test_link_edges_dataframe(spark):
    from defactonlp_spark.functions.extract import extract_links_one, link_edges

    rows = [
        ("https://s.example/p1",
         b"<a href='/p2'><a href='https://ext.example/'>"),
        ("https://s.example/p2", b"<a href='/p1'>"),
        ("https://s.example/p3", None),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    got = link_edges(pages).toPandas().sort_values(["src", "dst"]).values.tolist()
    want = []
    for u, h in rows:
        for d in extract_links_one(h, u):
            want.append([u, d])
    assert got == sorted(want)


def test_link_edges_feed_pagerank(spark):
    """The production path: extracted (src,dst) url edges -> id-joined ->
    the same pagerank loop the synthetic fixture graph uses."""
    from defactonlp_spark.functions.extract import link_edges
    from defactonlp_spark.operators.linkgraph import pagerank
    from pyspark.sql import functions as F

    rows = [
        ("https://s.example/a", b"<a href='/b'><a href='/c'>"),
        ("https://s.example/b", b"<a href='/c'>"),
        ("https://s.example/c", b"<a href='/a'>"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    ids = pages.select("url").withColumn(
        "id", F.row_number().over(__import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy("url")).cast("long")
    )
    e = link_edges(pages)
    edges = (
        e.join(ids.withColumnRenamed("url", "src").withColumnRenamed("id", "sid"), "src")
        .join(ids.withColumnRenamed("url", "dst").withColumnRenamed("id", "did"), "dst")
        .select(F.col("sid").alias("src"), F.col("did").alias("dst"))
    )
    pr = pagerank(ids.select("id"), edges, 3, iters=10).toPandas()
    assert abs(pr.pr.sum() - 1.0) < 1e-9
    # c has two in-edges (a and b) -> highest rank
    top = pr.sort_values("pr", ascending=False).iloc[0]
    cid = ids.toPandas().set_index("url").loc["https://s.example/c", "id"]
    assert int(top["id"]) == int(cid)



# --- anchor-text extraction (functions/extract.py::anchor_edges) -----------

def test_extract_anchors_scalar_spec():
    from defactonlp_spark.functions.extract import extract_anchors_one

    html = (
        "<body>"
        '<a href="/page-a">Visit <b>Page&amp;A</b> now</a>'
        "<a href='/page-a'>Page A</a>"            # repeat target, new text
        "<a href='/img'><img src='x.png'/></a>"   # image-only -> dropped
        "<a href='javascript:x()'>skip</a>"
        "<a href='/empty'>   </a>"                # whitespace-only -> dropped
        "</body>"
    ).encode()
    got = extract_anchors_one(html, "https://s.example/d/p.html")
    assert got == [
        ("https://s.example/page-a", "Visit Page&A now"),
        ("https://s.example/page-a", "Page A"),
    ]
    assert extract_anchors_one(None, "https://s.example/") == []
    assert extract_anchors_one(b"\xff\xfe", "https://s.example/") == []


def test_anchor_edges_to_anchor_field(spark):
    """The composition web engines run: in-link anchor text aggregates
    into the TARGET document's anchor field; a page heavily linked as
    'quantum widgets' must dominate that field's term stats even if its
    own body never says so."""
    from pyspark.sql import functions as F

    from defactonlp_spark.functions.extract import anchor_edges
    from defactonlp_spark.functions.tokenize import tokenize_postings

    pages = spark.createDataFrame(
        [
            ("https://s.example/hub1",
             b"<a href='/target'>quantum widgets</a><a href='/other'>misc</a>"),
            ("https://s.example/hub2", b"<a href='/target'>Quantum widgets</a>"),
            ("https://s.example/target", b"<p>nothing relevant here</p>"),
            ("https://s.example/other", b"<p>other</p>"),
        ],
        "url string, html binary",
    )
    edges = anchor_edges(pages)
    got = edges.toPandas()
    assert len(got) == 3
    # anchor field per target: concat in-link texts, key by a doc id map
    ids = pages.select("url").withColumn(
        "doc_id", F.xxhash64("url")  # any stable id works for the field join
    )
    field = (
        edges.groupBy("dst").agg(F.concat_ws(" ", F.collect_list("anchor")).alias("text"))
        .join(ids.withColumnRenamed("url", "dst"), "dst")
        .select("doc_id", "text")
    )
    p = tokenize_postings(field).toPandas()
    target_id = ids.filter(F.col("url") == "https://s.example/target").head()["doc_id"]
    tf = {r.term: r.tf for r in p[p.doc_id == target_id].itertuples()}
    assert tf.get("quantum") == 2 and tf.get("widgets") == 2
    assert "nothing" not in tf  # body text is NOT the anchor field
