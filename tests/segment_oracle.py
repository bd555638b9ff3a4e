"""Per-slice reference encoder: the segment encode as it was written before
``operators/segments.py`` moved to whole-batch passes, one (term, salt)
slice per call. ``tests/test_segment_batch.py`` compares every field the
batch encoder emits against it byte for byte."""

from __future__ import annotations

import numpy as np

from defactonlp_spark.config import EngineConfig
from defactonlp_spark.functions.varbyte import delta_encode, vb_encode
from defactonlp_spark.operators.segments import bm25_contrib, idf


def _vb_sizes(values: np.ndarray) -> np.ndarray:
    v = np.ascontiguousarray(values, dtype=np.uint64)
    nbytes = np.ones(v.size, dtype=np.int64)
    for k in range(1, 10):
        nbytes += (v >= np.uint64(1 << (7 * k))).astype(np.int64)
    return nbytes


def oracle_encode_slice(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    term_df: int,
    n_docs: int,
    avgdl: float,
    cfg: EngineConfig,
) -> dict:
    """Encode one sorted (term, salt) slice to a segment-row dict."""
    n = int(doc_ids.size)
    B = cfg.block_size
    gaps = delta_encode(doc_ids, base=0).astype(np.uint64)
    tfs = np.ascontiguousarray(tfs, dtype=np.uint64)
    dls = np.ascontiguousarray(dls, dtype=np.uint64)
    scores = bm25_contrib(tfs, dls, float(idf(term_df, n_docs)), avgdl, cfg.bm25)

    starts = np.arange(0, n, B, dtype=np.int64)
    n_blocks = int(starts.size)
    d_sz, t_sz, l_sz = (np.cumsum(_vb_sizes(a)) for a in (gaps, tfs, dls))

    def offs(csz: np.ndarray) -> np.ndarray:
        o = np.zeros(n_blocks, dtype=np.int64)
        o[1:] = csz[starts[1:] - 1]
        return o

    d_off, t_off, l_off = offs(d_sz), offs(t_sz), offs(l_sz)
    ends = np.minimum(starts + B, n)
    last_ids = doc_ids[ends - 1]
    max_scores = np.maximum.reduceat(scores, starts)
    blockmax = [
        {
            "last_doc_id": int(last_ids[k]),
            "max_score": float(max_scores[k]),
            "doc_off": int(d_off[k]),
            "tf_off": int(t_off[k]),
            "dl_off": int(l_off[k]),
        }
        for k in range(n_blocks)
    ]
    docs_blob, tfs_blob, dls_blob = vb_encode(gaps), vb_encode(tfs), vb_encode(dls)
    return {
        "df": int(term_df),
        "n": n,
        "n_bytes": len(docs_blob) + len(tfs_blob) + len(dls_blob),
        "n_blocks": n_blocks,
        "docs_blob": docs_blob,
        "tfs_blob": tfs_blob,
        "dls_blob": dls_blob,
        "blockmax": blockmax,
    }
