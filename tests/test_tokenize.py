"""B2 tokenizer: pinned semantics + Spark postings vs pure-Python counts."""

from collections import Counter

from defactonlp_spark.functions.tokenize import tokenize_one, tokenize_postings
from defactonlp_spark.sources.fixtures import gen_webpages


def test_scalar_pinned_semantics():
    assert tokenize_one("The quick, brown FOX!") == ["the", "quick", "brown", "fox"]
    assert tokenize_one("a-b_c d2d") == ["a", "b", "c", "d2d"]  # _ splits
    assert tokenize_one("café CAFÉ") == ["cafe", "cafe"]  # NFD mark splits off
    assert tokenize_one("漢字 x") == ["漢字", "x"]
    assert tokenize_one("") == []
    assert tokenize_one(None) == []
    assert tokenize_one("123 456") == ["123", "456"]


def test_spark_postings_match_bruteforce(spark):
    pdf = gen_webpages(n=60, seed=11, dup_frac=0.0)
    pdf["doc_id"] = range(len(pdf))
    df = spark.createDataFrame(pdf[["doc_id", "text"]])
    got = tokenize_postings(df).toPandas()

    expect = {}
    dls = {}
    for r in pdf.itertuples(index=False):
        toks = tokenize_one(r.text)
        dls[r.doc_id] = len(toks)
        for t, c in Counter(toks).items():
            expect[(t, r.doc_id)] = c

    assert len(got) == len(expect)
    for r in got.itertuples(index=False):
        assert expect[(r.term, r.doc_id)] == r.tf, (r.term, r.doc_id)
        assert dls[r.doc_id] == r.dl


def test_empty_and_null_docs(spark):
    df = spark.createDataFrame([(1, ""), (2, None), (3, "one one two")], "doc_id long, text string")
    got = tokenize_postings(df).toPandas().sort_values("term")
    assert set(got["doc_id"]) == {3}
    assert dict(zip(got["term"], got["tf"])) == {"one": 2, "two": 1}
    assert set(got["dl"]) == {3}


def test_fused_id_assignment_matches_window_path(spark):
    """prepare_webpages_fused + in-kernel id assignment must reproduce the
    EXACT postings (doc_ids included) of the reference chain
    latest_per_url -> assign_doc_ids(partitioned) -> extract -> tokenize."""
    from defactonlp_spark.functions.tokenize import tokenize_postings_html
    from defactonlp_spark.plans.build import prepare_webpages, prepare_webpages_fused

    pdf = gen_webpages(n=120, seed=31, dup_frac=0.1)  # recrawls exercise dedup
    pages = spark.createDataFrame(pdf)

    chained = tokenize_postings(
        prepare_webpages(pages, id_strategy="partitioned")
    ).toPandas()
    fused = tokenize_postings_html(prepare_webpages_fused(pages)).toPandas()

    key = ["term", "doc_id"]
    chained = chained.sort_values(key).reset_index(drop=True)
    fused = fused.sort_values(key).reset_index(drop=True)
    assert chained.equals(fused)
