"""Serving a claim batch that is already in driver memory
(``operators/bm25.py::claim_terms`` and ``operators/wand.py::wand_topk``).

A pandas-created batch is a local relation: its claims are tokenized and its
claim side summarized on the driver, so only the pruned scan -> gather ->
cogroup kernel query runs as Spark jobs. Pinned here:

1. job counts: none for ``claim_terms`` of a local batch, at most 4 for a
   64-claim ``query_wand`` batch and for a warm 256-claim
   ``ServingSession.topk`` batch;
2. the same claims given as a local batch, a tuple-built frame, a parquet
   read or a pandas frame in a session with Arrow off return bit-identical
   rows through ``query_wand`` and warm ``topk`` — OOV tokens, an all-OOV
   batch, duplicate claim ids, empty claims and non-ASCII text included;
3. the driver tokenizer and the ``mapInPandas`` tokenizer emit the same
   (claim_id, term) pairs under NFD and casefolding;
4. planning a local batch, up to the returned DataFrame, stays within a
   pinned number of py4j round trips: the pairs never go back through the
   JVM before the plan is built.
"""

import uuid

import pandas as pd
import pytest
from py4j import protocol as proto

from defactonlp_spark.config import EngineConfig
from defactonlp_spark.functions.tokenize import tokenize_one
from defactonlp_spark.operators.bm25 import claim_terms
from defactonlp_spark.operators.wand import RESULTS_SCHEMA
from defactonlp_spark.plans.build import IndexBuild, IndexReader, prepare_webpages
from defactonlp_spark.plans.query import ServingSession, query_wand
from defactonlp_spark.sources.fixtures import gen_claims, gen_webpages

K = 5
CFG = EngineConfig(n_buckets=8)
ARROW = "spark.sql.execution.arrow.pyspark.enabled"

#: claims past the generated ones: OOV, duplicate ids (term sets merge),
#: empty and punctuation-only text, and non-ASCII text that the fixture
#: pages' Unicode snippets match after NFD + casefold
EXTRA = [
    (1000, "merge qqnotaword join"),
    (1001, "window batch"),
    (1001, "stream TABLE"),
    (1002, ""),
    (1003, "!!! ... ---"),
    (1004, "CAFÉ naïve"),
    (1005, "ΣIGMA Über 漢字"),
    (1006, "Touché RÉSUMÉ merge"),
]
ALL_OOV = [(0, "qqzzy qqzzx"), (1, "unseenwordalpha"), (2, "")]
NON_ASCII = [
    (0, "Straße STRASSE strasse"),
    (1, "ﬁle ﬂow Ǆemal ǅ"),
    (2, "Å Å Å x² ＦＵＬＬ"),
    (3, "İstanbul ΣΊΣΥΦΟΣ ς"),
    (4, "naïve café 日本語 éa"),
    (5, ""),
]


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _py4j_calls(spark, fn):
    """(fn(), number of py4j commands the driver sent while fn ran).

    Frees of py4j proxies are not counted: when they are sent depends on
    the garbage collector, and most free proxies of earlier work."""
    client = spark.sparkContext._gateway._gateway_client
    stock = client.send_command
    free = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME
    sent = 0

    def counted(command, *args, **kwargs):
        nonlocal sent
        sent += not command.startswith(free)
        return stock(command, *args, **kwargs)

    client.send_command = counted
    try:
        out = fn()
    finally:
        del client.send_command  # back to the class's method
    return out, sent


@pytest.fixture(scope="module")
def reader(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("local_batch_idx"))
    pages = spark.createDataFrame(gen_webpages(n=400, seed=29))
    IndexBuild(out, CFG, build_id="local").run(
        spark, prepare_webpages(pages), input_snapshot="fixture:400"
    )
    return IndexReader(spark, out)


@pytest.fixture(scope="module")
def session(reader):
    s = ServingSession(reader, CFG)
    s.warm()
    yield s
    s.close()


def _pdf(rows) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=["claim_id", "claim"])


def _forms(spark, rows, tmp_path) -> dict:
    """The same claims as a local batch and as non-local relations."""
    pdf = _pdf(rows)
    path = str(tmp_path / f"claims-{uuid.uuid4().hex}")
    pdf.to_parquet(path)
    forms = {
        "local": spark.createDataFrame(pdf),
        "tuples": spark.createDataFrame(rows, "claim_id long, claim string"),
        "parquet": spark.read.parquet(path),
    }
    assert forms["local"].isLocal()
    assert not forms["tuples"].isLocal() and not forms["parquet"].isLocal()
    return forms


def _serve(path, reader, session, claims):
    if path == "query_wand":
        return query_wand(reader, claims, k=K, cfg=CFG)
    return session.topk(claims, k=K)


def _rows(df) -> pd.DataFrame:
    return df.toPandas().sort_values(["claim_id", "rank"]).reset_index(drop=True)


def test_claim_terms_of_a_local_batch_runs_no_job(spark):
    claims = spark.createDataFrame(gen_claims(n=64)[["claim_id", "claim"]])
    got, n_jobs = _jobs(spark, lambda: claim_terms(claims))
    assert n_jobs == 0
    assert got.isLocal()
    ref = claim_terms(spark.createDataFrame(
        list(gen_claims(n=64)[["claim_id", "claim"]].itertuples(index=False, name=None)),
        "claim_id long, claim string",
    ))
    assert got.schema == ref.schema
    assert sorted(got.collect()) == sorted(ref.collect())


def test_query_wand_local_batch_runs_at_most_4_jobs(spark, reader):
    pdf = gen_claims(n=200)[["claim_id", "claim"]]
    query_wand(reader, spark.createDataFrame(pdf.iloc[64:72]), k=K, cfg=CFG).toPandas()
    claims = spark.createDataFrame(pdf.iloc[:64])
    res, n_jobs = _jobs(spark, lambda: query_wand(reader, claims, k=K, cfg=CFG).toPandas())
    assert res["claim_id"].nunique() > 30
    assert n_jobs <= 4


def test_warm_topk_local_batch_runs_at_most_4_jobs(spark, session):
    pdf = gen_claims(n=300)[["claim_id", "claim"]]
    session.topk(spark.createDataFrame(pdf.iloc[256:]), k=K).toPandas()
    claims = spark.createDataFrame(pdf.iloc[:256])
    res, n_jobs = _jobs(spark, lambda: session.topk(claims, k=K).toPandas())
    assert res["claim_id"].nunique() > 100
    assert n_jobs <= 4


@pytest.mark.parametrize("path", ["query_wand", "warm_topk"])
def test_local_and_distributed_batches_return_identical_rows(
    spark, reader, session, tmp_path, path
):
    rows = list(gen_claims(n=40)[["claim_id", "claim"]].itertuples(index=False, name=None))
    rows += EXTRA
    got = {
        form: _rows(_serve(path, reader, session, claims))
        for form, claims in _forms(spark, rows, tmp_path).items()
    }
    base = got.pop("local")
    assert {1000, 1001, 1004, 1005, 1006} <= set(base["claim_id"])
    assert not {1002, 1003} & set(base["claim_id"])
    for form, df in got.items():
        pd.testing.assert_frame_equal(df, base, check_exact=True, obj=form)

    spark.conf.set(ARROW, "false")
    try:
        claims = spark.createDataFrame(_pdf(rows))
        assert not claims.isLocal()
        no_arrow = _rows(_serve(path, reader, session, claims))
    finally:
        spark.conf.set(ARROW, "true")
    pd.testing.assert_frame_equal(no_arrow, base, check_exact=True, obj="arrow off")

    for form, claims in _forms(spark, ALL_OOV, tmp_path).items():
        res = _serve(path, reader, session, claims)
        assert [(f.name, f.dataType) for f in res.schema] == [
            (f.name, f.dataType) for f in RESULTS_SCHEMA
        ], form
        assert res.count() == 0, form


def test_driver_and_kernel_tokenizers_agree_on_non_ascii_claims(spark, tmp_path):
    want = sorted({(cid, t) for cid, text in NON_ASCII for t in tokenize_one(text)})
    assert any(not t.isascii() for _, t in want)
    for form, claims in _forms(spark, NON_ASCII, tmp_path).items():
        got = sorted((r["claim_id"], r["term"]) for r in claim_terms(claims).collect())
        assert got == want, form


#: py4j round trips to plan one batch, up to the returned DataFrame, on this
#: fixture with 8 cores. With the pairs built as a relation and collected
#: again, a 64-claim ``query_wand`` batch (``reader.segments()`` included)
#: took 230 and a warm 256-claim ``topk`` batch 173; handing the driver's
#: pandas pairs to ``wand_topk`` takes 169 and 112.
MAX_PLAN_CALLS = {"query_wand": 200, "warm_topk": 140}


@pytest.mark.parametrize("path", ["query_wand", "warm_topk"])
def test_planning_a_local_batch_stays_within_its_py4j_round_trips(spark, reader, session, path):
    size = 64 if path == "query_wand" else 256
    pdf = gen_claims(n=2 * size)[["claim_id", "claim"]]
    # a warm-up batch of the same size takes the same plan form (literal or
    # join), so one-time py4j lookups fall outside the count
    _serve(path, reader, session, spark.createDataFrame(pdf.iloc[size:])).toPandas()
    claims = spark.createDataFrame(pdf.iloc[:size])
    res, calls = _py4j_calls(spark, lambda: _serve(path, reader, session, claims))
    assert calls <= MAX_PLAN_CALLS[path], f"{path}: {calls} py4j calls"
    assert res.toPandas()["claim_id"].nunique() > 30
