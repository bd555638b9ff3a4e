"""Seeded input generator for the benchmark workloads.

Pages come from the engine's own fixture writer (Common-Crawl-shaped
parquet). Claims are drawn from two pools over the fixture vocabulary:

- head: the 30 ``HEAD_TERMS`` with their Zipf corpus weights, so claims in a
  batch share most of their terms;
- tail: the ``termNNNN`` mid/tail terms drawn uniformly, so claims share few
  terms, with an out-of-vocabulary token in about one claim in ten.

The same seed always gives the same pages and the same claim batches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from defactonlp_spark.sources.fixtures import HEAD_TERMS, N_TAIL, write_webpages_parquet

#: share of tail claims that carry one out-of-vocabulary token
OOV_SHARE = 0.1


def write_pages(path: str, n_docs: int, seed: int) -> int:
    """Write ``n_docs`` pages (plus recrawl duplicates) as parquet under
    ``path``; return the number of distinct urls, which a correct build
    indexes as documents."""
    write_webpages_parquet(path, n=n_docs, seed=seed)
    return len(pq.read_table(path, columns=["url"]).column("url").unique())


class ClaimSource:
    """Claim batches with globally unique claim ids."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.next_id = 0
        p = 1.0 / np.power(np.arange(1, len(HEAD_TERMS) + 1, dtype=np.float64), 1.3)
        self.head_p = p / p.sum()
        self.head = np.array(HEAD_TERMS, dtype=object)

    def _claim(self, pool: str) -> str:
        rng = self.rng
        if pool == "head":
            toks = list(rng.choice(self.head, size=int(rng.integers(3, 13)), p=self.head_p))
        else:
            ids = rng.choice(N_TAIL, size=int(rng.integers(2, 7)), replace=False)
            toks = [f"term{int(j):04d}" for j in ids]
            if rng.random() < OOV_SHARE:
                toks.append(f"oov{int(rng.integers(0, 10**9)):09d}")
        return " ".join(toks)

    def batch(self, pool: str, size: int) -> pd.DataFrame:
        ids = np.arange(self.next_id, self.next_id + size, dtype=np.int64)
        self.next_id += size
        return pd.DataFrame({"claim_id": ids, "claim": [self._claim(pool) for _ in ids]})
