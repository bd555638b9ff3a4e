"""The whole-batch segment encoder against the per-slice reference encoder:
every field of every slice must match byte for byte — at block-size
edges, for salted runs, for fused doc ids (>= 2^40), and through Spark
with runs that straddle Arrow batches."""

from dataclasses import replace

import numpy as np
import pandas as pd
import pytest

from defactonlp_spark.config import EngineConfig
from defactonlp_spark.operators.segments import (
    SEGMENT_ARROW,
    encode_runs,
    encode_segments,
    encode_slice,
)
from tests.segment_oracle import oracle_encode_slice

CFG = EngineConfig()
N_DOCS, AVGDL = 50_000, 173.25


def _run(rng, n, base=0, id_hi=10**9):
    ids = base + np.sort(rng.choice(id_hi, size=n, replace=False)).astype(np.int64)
    return ids, rng.integers(1, 300, size=n), rng.integers(1, 20_000, size=n)


def _encode_rows(runs, dfs):
    doc = np.concatenate([r[0] for r in runs])
    tf = np.concatenate([r[1] for r in runs])
    dl = np.concatenate([r[2] for r in runs])
    starts = np.cumsum([0] + [r[0].size for r in runs[:-1]])
    cols = encode_runs(doc, tf, dl, starts, np.asarray(dfs), N_DOCS, AVGDL, CFG)
    names = SEGMENT_ARROW.names[2:]
    return [dict(zip(names, vals)) for vals in zip(*(c.to_pylist() for c in cols))]


def _assert_rows_equal(got, want):
    assert set(got) == set(want)
    for key in want:
        assert got[key] == want[key], key  # bytes / ints / floats: exact


def test_batch_matches_oracle_at_block_edges():
    rng = np.random.default_rng(11)
    runs = [_run(rng, n) for n in (1, 127, 128, 129, 1000, 1, 5)]
    dfs = [1, 127, 400, 129, 1000, 3, 5]
    for got, r, df in zip(_encode_rows(runs, dfs), runs, dfs, strict=True):
        _assert_rows_equal(got, oracle_encode_slice(*r, df, N_DOCS, AVGDL, CFG))


def test_batch_matches_oracle_salted_runs():
    """Salt sub-lists of one term: same df on every run, each run restarts
    its gaps at its own first doc id even though the ids interleave."""
    rng = np.random.default_rng(12)
    ids, tfs, dls = _run(rng, 900)
    salt = ids % 3
    runs = [(ids[salt == s], tfs[salt == s], dls[salt == s]) for s in range(3)]
    for got, r in zip(_encode_rows(runs, [900] * 3), runs, strict=True):
        _assert_rows_equal(got, oracle_encode_slice(*r, 900, N_DOCS, AVGDL, CFG))


def test_batch_matches_oracle_fused_ids():
    """Fused ids (partition << 40 | rank): first gaps take 6 varbyte bytes."""
    rng = np.random.default_rng(13)
    runs = [_run(rng, n, base=(p << 40), id_hi=10**6) for p, n in ((1, 129), (7, 1), (200, 300))]
    rows = _encode_rows(runs, [500, 500, 300])
    first_gap = rows[0]["docs_blob"][:6]
    assert all(x & 0x80 for x in first_gap[:5]) and not first_gap[5] & 0x80
    for got, r, df in zip(rows, runs, [500, 500, 300], strict=True):
        _assert_rows_equal(got, oracle_encode_slice(*r, df, N_DOCS, AVGDL, CFG))


def test_encode_slice_is_one_run_of_the_batch_encoder():
    rng = np.random.default_rng(14)
    for n in (1, 128, 129, 1000):
        r = _run(rng, n, base=3 << 40)
        _assert_rows_equal(encode_slice(*r, n, N_DOCS, AVGDL, CFG),
                           oracle_encode_slice(*r, n, N_DOCS, AVGDL, CFG))


def test_guards():
    ids = np.array([5, 9, 12, 3, 4], dtype=np.int64)
    ones = np.ones(5, dtype=np.int64)
    # a new run may restart below the previous one ...
    encode_runs(ids, ones, ones, np.array([0, 3]), np.array([3, 2]), N_DOCS, AVGDL, CFG)
    # ... but ids must not decrease inside a run
    with pytest.raises(ValueError):
        encode_runs(ids, ones, ones, np.array([0]), np.array([5]), N_DOCS, AVGDL, CFG)
    # values >= 2^63 (a negative tf seen as unsigned) are rejected
    bad_tf = np.array([1, 1, 1, -1, 1], dtype=np.int64)
    with pytest.raises(ValueError):
        encode_runs(ids, bad_tf, ones, np.array([0, 3]), np.array([3, 2]), N_DOCS, AVGDL, CFG)
    with pytest.raises(ValueError):
        encode_slice(np.empty(0, dtype=np.int64), [], [], 1, N_DOCS, AVGDL, CFG)
    # a repeated id inside a run is a 0 gap and is rejected, while a new run
    # may restart at the previous run's last id; a run may start at id 0 but
    # not below it
    dup = np.array([3, 8, 8, 9], dtype=np.int64)
    four = np.ones(4, dtype=np.int64)
    encode_runs(dup, four, four, np.array([0, 2]), np.array([2, 2]), N_DOCS, AVGDL, CFG)
    with pytest.raises(ValueError, match="duplicate doc_id"):
        encode_runs(dup, four, four, np.array([0]), np.array([4]), N_DOCS, AVGDL, CFG)
    encode_runs(np.array([0, 1, 0, 5]), four, four, np.array([0, 2]), np.array([2, 2]),
                N_DOCS, AVGDL, CFG)
    with pytest.raises(ValueError, match="duplicate doc_id"):
        encode_runs(np.array([0, 1, -2, 5]), four, four, np.array([0, 2]), np.array([2, 2]),
                    N_DOCS, AVGDL, CFG)


def test_encode_segments_rejects_repeated_corpus_doc_id(spark):
    """A text corpus repeating a doc_id yields two postings of one doc per
    shared term: the encode fails instead of writing both."""
    from defactonlp_spark.operators.postings import build_postings, term_stats

    corpus = spark.createDataFrame([(1, "spark merge"), (2, "merge join"), (1, "merge")],
                                   "doc_id long, text string")
    postings = build_postings(corpus)
    with pytest.raises(Exception, match="duplicate doc_id"):
        encode_segments(postings, term_stats(postings), 3, 2.0, CFG, n_partitions=2).collect()


def test_encode_segments_straddling_batches_matches_oracle(spark):
    """7-row Arrow batches: most runs cross a batch boundary and are carried;
    every output row must equal the oracle's encode of its slice."""
    rng = np.random.default_rng(15)
    rows = []
    for t in range(12):
        n = int(rng.choice([1, 2, 6, 7, 8, 40, 130]))
        for d in np.sort(rng.choice(5_000, size=n, replace=False)):
            rows.append((f"t{t:02d}", int(d), int(rng.integers(1, 9)), int(rng.integers(5, 900))))
    pdf = pd.DataFrame(rows, columns=["term", "doc_id", "tf", "dl"])
    stats = pdf.groupby("term").size().rename("df").reset_index()
    # encode_segments salts the 130-posting terms (df > 50) into 2 sub-lists
    cfg = replace(CFG, n_salts=2, salt_df_ratio=0.001)
    head = pdf.groupby("term")["doc_id"].transform("size") > max(int(N_DOCS * 0.001), 1)
    pdf["salt"] = np.where(head, pdf["doc_id"] % 2, 0).astype(np.int32)
    assert head.any() and not head.all()

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        seg = encode_segments(
            spark.createDataFrame(pdf[["term", "doc_id", "tf", "dl"]],
                                  "term string, doc_id long, tf int, dl int"),
            spark.createDataFrame(stats, "term string, df long"),
            N_DOCS, AVGDL, cfg, n_partitions=3,
        ).toPandas()
    finally:
        spark.conf.set(key, prev)

    dfs = dict(zip(stats["term"], stats["df"]))
    want = {
        (term, salt): oracle_encode_slice(
            g["doc_id"].to_numpy(), g["tf"].to_numpy(), g["dl"].to_numpy(),
            int(dfs[term]), N_DOCS, AVGDL, CFG,
        )
        for (term, salt), g in pdf.sort_values("doc_id").groupby(["term", "salt"])
    }
    assert len(seg) == len(want)
    for r in seg.to_dict("records"):
        exp = want[(r["term"], r["salt"])]
        r["blockmax"] = [dict(b) for b in r["blockmax"]]
        _assert_rows_equal({k: r[k] for k in exp}, exp)
