"""DrQA-parity TF-IDF retrieval mode (SURVEY.md §2.A3-A11).

Reproduces the semantics of the reference retrieval stack — DrQA's
``TfidfDocRanker`` as used by DeFactoNLP via fever-baselines — re-expressed
as DataFrame algebra:

- tokenizer: SimpleTokenizer-style — NFD-normalized text, tokens are runs of
  word characters OR single non-space characters, lowercased for ngrams
  (DrQA ``drqa/tokenizers/simple_tokenizer.py`` [P, file-level — the
  reference mount is empty, see SURVEY.md §0]);
- ngrams: unigrams + bigrams; an ngram is DROPPED if any token is an English
  stopword or all-punctuation (DrQA ``retriever/utils.py::filter_ngram``,
  mode='any');
- weighting: tf' = log1p(tf); idf = log((N - Nt + 0.5)/(Nt + 0.5)), clamped
  to >= 0; weight = tf' * idf (DrQA ``build_tfidf.py`` / ``text2spvec``);
- scoring: sparse dot product query-vector x doc-matrix; top-k by score.

Term keys come in two modes (``hash_mode``):

- ``"raw"`` (default): raw ngram strings — readable, collision-free, and
  identical to DrQA's ranking whenever DrQA's 2^24 hash space is
  collision-free for the corpus (~0.03% collision mass on FEVER).
- ``"murmur"``: exact A5 parity — sklearn-compatible murmurhash3_32 seed-0
  positive, % 2^24 (vectorized numpy, functions/mmh3.py; pinned against
  published vectors), applied to each ngram so COLLISIONS MERGE exactly as
  in DrQA's ``utils.hash``. Spark's builtin ``F.hash`` cannot do this
  (murmur3 seed 42, different finalization), hence the numpy kernel.
"""

from __future__ import annotations

import re
import unicodedata
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from defactonlp_spark.operators.bm25 import topk

# public-domain English stopword list matching DrQA/sklearn's set closely
# enough for parity tests on the fixture vocabulary (the exact sklearn
# ENGLISH_STOP_WORDS is a frozen 318-word set; we pin the subset relevant to
# retrieval semantics — tests use only words in this list)
STOPWORDS = frozenset(
    """a about above after again against all am an and any are as at be because
    been before being below between both but by can did do does doing down
    during each few for from further had has have having he her here hers
    herself him himself his how i if in into is it its itself just me more
    most my myself no nor not now of off on once only or other our ours
    ourselves out over own same she should so some such than that the their
    theirs them themselves then there these they this those through to too
    under until up very was we were what when where which while who whom why
    will with you your yours yourself yourselves""".split()
)

_WORD = re.compile(r"[\w\d]+|[^\s\w]", re.UNICODE)
_PUNCT = re.compile(r"^\W+$", re.UNICODE)

NGRAM_SCHEMA = T.StructType(
    [
        T.StructField("ngram", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
    ]
)


def simple_tokenize(text: str) -> list[str]:
    """DrQA SimpleTokenizer analog: NFD normalize, then word-char runs or
    single non-space chars; lowercased."""
    if not text:
        return []
    return [t.lower() for t in _WORD.findall(unicodedata.normalize("NFD", text))]


def ngrams_filtered(tokens: list[str], n: int = 2) -> list[str]:
    """Uni+bigrams, dropping any ngram containing a stopword or punctuation
    token (filter_ngram mode='any')."""
    out = []
    for size in range(1, n + 1):
        for i in range(len(tokens) - size + 1):
            gram = tokens[i : i + size]
            if any(t in STOPWORDS or _PUNCT.match(t) for t in gram):
                continue
            out.append(" ".join(gram))
    return out


def ngram_postings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_mode: str = "raw",
) -> DataFrame:
    """corpus -> (ngram, doc_id, tf) via mapInPandas (counts final per batch).

    ``hash_mode="murmur"`` replaces each ngram key with its DrQA term id
    (murmur3_32 seed-0 % 2^24, as a decimal string) BEFORE counting, so
    colliding ngrams merge their tf exactly as in DrQA's hashed CSR matrix.
    """
    if hash_mode not in ("raw", "murmur"):
        raise ValueError(hash_mode)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from collections import Counter

        from defactonlp_spark.functions.mmh3 import drqa_term_ids

        for pdf in batches:
            rows = {"ngram": [], "doc_id": [], "tf": []}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                grams = ngrams_filtered(simple_tokenize(text))
                if not grams:
                    continue
                if hash_mode == "murmur":
                    grams = [str(t) for t in drqa_term_ids(grams)]
                # Counter, not a per-doc pandas value_counts: constructing a
                # Series per document dominates at ~300-gram docs
                vc = Counter(grams)
                rows["ngram"].extend(vc.keys())
                rows["doc_id"].extend([doc_id] * len(vc))
                rows["tf"].extend(vc.values())
            yield pd.DataFrame(
                {
                    "ngram": pd.Series(rows["ngram"], dtype=object),
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "tf": pd.Series(rows["tf"], dtype="int32"),
                }
            )

    prepared = df.select(id_col, text_col)
    # CPU-bound kernel: floor parallelism at the session default — fixture
    # corpora arrive as a single parquet file (1 input partition would run
    # the whole tokenize pass on one core); no-ops when the input already
    # has >= defaultParallelism partitions (any production-scale table).
    from defactonlp_spark.session import floor_parallelism

    return floor_parallelism(prepared).mapInPandas(gen, schema=NGRAM_SCHEMA)


def tfidf_weights(postings: DataFrame, n_docs: int) -> DataFrame:
    """DrQA weighting: w = log1p(tf) * max(0, log((N - Nt + 0.5)/(Nt + 0.5)))."""
    nt = postings.groupBy("ngram").agg(F.count(F.lit(1)).alias("nt"))
    idf = F.greatest(
        F.log((F.lit(float(n_docs)) - F.col("nt") + 0.5) / (F.col("nt") + 0.5)), F.lit(0.0)
    )
    return (
        postings.join(nt, "ngram")
        .withColumn("w", F.log1p(F.col("tf")) * idf)
        .select("ngram", "doc_id", "w")
    )


def drqa_closest_docs(
    corpus: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_mode: str = "raw",
) -> DataFrame:
    """Batch ``closest_docs``: top-k (claim_id, rank, doc_id, score) by
    tf-idf sparse dot product, ties broken by doc_id asc.

    ``hash_mode="murmur"`` reproduces DrQA's hashed term space exactly,
    including collision merges (A5)."""
    n_docs = corpus.select(id_col).distinct().count()
    # one tokenize pass, cached: doc weights AND the query-side idf both read
    # it (DrQA loads one .npz model for both; recomputing the ngram explode
    # twice would double the only expensive stage)
    post = ngram_postings(corpus, id_col, text_col, hash_mode).persist()
    doc_w = tfidf_weights(post, n_docs)
    q_post = ngram_postings(queries_df, "claim_id", "claim", hash_mode).withColumnRenamed("doc_id", "claim_id")
    # query vector uses the CORPUS idf (DrQA text2spvec uses model doc_freqs)
    nt = post.groupBy("ngram").agg(F.count(F.lit(1)).alias("nt"))
    q_w = (
        q_post.join(nt, "ngram", "inner")
        .withColumn(
            "qw",
            F.log1p(F.col("tf"))
            * F.greatest(
                F.log((F.lit(float(n_docs)) - F.col("nt") + 0.5) / (F.col("nt") + 0.5)),
                F.lit(0.0),
            ),
        )
        .select("claim_id", "ngram", "qw")
    )
    scored = (
        doc_w.join(F.broadcast(q_w), "ngram")
        .groupBy("claim_id", "doc_id")
        .agg(F.sum(F.col("w") * F.col("qw")).alias("score"))
        .filter(F.col("score") > 0)
    )
    return topk(scored, k, None)
