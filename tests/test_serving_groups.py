"""Kernel-group assignment in WAND serving (operators/wand.py::wand_topk).

Claims go into about one kernel group per core, capped at
``EngineConfig.serve_claims_per_batch`` claims per group: a local batch by
each claim's rank among its distinct ids, a distributed relation by hash. Contracts pinned
here:

1. Group membership never changes a result: one group per claim and the
   default grouping return bit-identical frames.
2. A batch with fewer claims than the core count leaves some groups (and
   kernel tasks) empty and still matches the exhaustive oracle.
3. The claim relation is computed once per call: the tokenizer behind
   ``qterms`` runs exactly once, however many branches read it.
"""

from dataclasses import replace

import numpy as np
import pandas as pd
import pytest

from defactonlp_spark.config import EngineConfig
from defactonlp_spark.operators.bm25 import claim_terms
from defactonlp_spark.operators.wand import claim_groups, n_kernel_groups, wand_topk
from defactonlp_spark.plans.build import IndexBuild, IndexReader, prepare_webpages
from defactonlp_spark.plans.query import query_exhaustive, query_wand
from defactonlp_spark.sources.fixtures import gen_claims, gen_webpages

K = 5
CFG = EngineConfig(n_buckets=8)


@pytest.fixture(scope="module")
def reader(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("groups_idx"))
    pages = spark.createDataFrame(gen_webpages(n=400, seed=23))
    IndexBuild(out, CFG, build_id="groups").run(
        spark, prepare_webpages(pages), input_snapshot="fixture:400"
    )
    return IndexReader(spark, out)


@pytest.fixture(scope="module")
def claims_pdf():
    return gen_claims(n=60)[["claim_id", "claim"]]


def _sorted(df) -> pd.DataFrame:
    return df.toPandas().sort_values(["claim_id", "rank"]).reset_index(drop=True)


def test_group_membership_does_not_change_results(spark, reader, claims_pdf):
    claims = spark.createDataFrame(claims_pdf)
    per_claim = _sorted(query_wand(reader, claims, k=K, cfg=replace(CFG, serve_claims_per_batch=1)))
    default = _sorted(query_wand(reader, claims, k=K, cfg=CFG))

    assert default["claim_id"].nunique() > 40  # most fixture claims match
    pd.testing.assert_frame_equal(per_claim, default, check_exact=True)


def test_small_batch_with_empty_groups_matches_exhaustive(spark, reader, claims_pdf):
    sub = claims_pdf.iloc[:3]
    claims = spark.createDataFrame(sub)
    par = spark.sparkContext.defaultParallelism
    # 3 claims under the 256-claim cap get `par` groups, one claim each:
    # the other groups (and kernel tasks) are empty, which is the case
    # under test
    assert n_kernel_groups(3, par, CFG) == par > 3
    assert sorted(claim_groups(sub["claim_id"], par, CFG).values()) == [0, 1, 2]

    w = _sorted(query_wand(reader, claims, k=K, cfg=CFG))
    e = _sorted(query_exhaustive(reader, claims, k=K, cfg=CFG))
    assert len(w) > 0
    assert list(w["claim_id"]) == list(e["claim_id"])
    assert list(w["doc_id"]) == list(e["doc_id"])
    assert np.allclose(w["score"], e["score"], rtol=0, atol=1e-12)


def test_claim_tokenizer_runs_once_per_call(spark, reader, claims_pdf):
    rows = claim_terms(spark.createDataFrame(claims_pdf)).toPandas()
    src = spark.createDataFrame(rows, "claim_id long, term string")
    seen = spark.sparkContext.accumulator(0)

    def counted(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    qterms = src.mapInPandas(counted, schema=src.schema)
    got = wand_topk(
        reader.segments(), qterms, reader.n_docs, reader.avgdl, k=K, cfg=CFG
    ).collect()
    assert got
    assert seen.value == len(rows)
