"""ES ``simple_query_string`` — the lenient user-facing query syntax
(Lucene ``SimpleQueryParser``), compiled onto the engine's existing
clause machinery.

Supported syntax (the documented simple_query_string operator set, flat —
this parser never raises on SYNTAX, exactly like ES; the only error is
the ES-style too_many_clauses cap, QS_MAX_CLAUSES):

  word          should-term (default_operator=OR)
  +word         must-term
  -word         must_not-term
  "a b c"       phrase clause (+/- prefixes compose: -"a b")
  word*         prefix clause (dictionary expansion, constant-score)
  |             OR separator (a no-op under default OR semantics)

Pinned analysis rules: every unit is analyzed with the engine tokenizer;
a unit that analyzes to multiple tokens becomes a phrase clause; an empty
analysis drops the unit; a trailing ``*`` applies only to single-token
units (multi-token falls back to a phrase, star dropped); a bare ``+``,
``-`` or ``|`` is whitespace.

Pinned scoring (matching the engine's own per-family conventions):

  term clause    BM25 contribution (stored df/N/avgdl)
  phrase clause  BM25 sum over the phrase's DISTINCT terms, restricted to
                 docs containing the exact phrase (= score_phrase)
  prefix clause  constant 1.0 per doc matching >= 1 expanded dictionary
                 term (Lucene's constant-score MultiTermQuery rewrite)

Boolean semantics = score_boolean's: a doc qualifies iff it matches ALL
must clauses (an unmatchable must — out-of-corpus term, empty expansion,
absent phrase — makes the claim return nothing), NO must_not clause, and,
when there are no must clauses, >= 1 should clause. Score = sum of
matched must+should contributions; ranking round(score, 6) desc, doc_id
asc (phrase + term + constant sums mix magnitudes, so raw-float windows
would be engine-noise-ordered).

Scale shape: parsing is driver-side over the QUERY SET (metadata-scale by
definition); every clause relation is broadcast onto the one postings /
tokens scan, then a single hash aggregate per (claim, doc). Identical
envelope to score_boolean + score_phrase run together — no extra corpus
pass vs issuing the clauses separately, because the three clause families
share the scans.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from defactonlp_spark.functions.tokenize import tokenize_one
from defactonlp_spark.operators.bm25 import BM25Params, bm25_score_expr, topk


@dataclass(frozen=True)
class QsClause:
    pri: int  # 1 must, 2 should, 0 must_not
    kind: str  # 'term' | 'phrase' | 'prefix'
    tokens: tuple[str, ...]


_UNIT_RE = re.compile(r'([+-]?)("([^"]*)"|\S+)')

# Lucene/ES cap the boolean clause count (indices.query.bool.max_clause_count,
# default 1024 in older ES / 4096 now). 1024 here — far below the 10^4 uid
# stride score_query_string packs phrase clause ids with, so clause ids can
# never collide across claims (ADVICE r4).
QS_MAX_CLAUSES = 1024


def parse_simple_query_string(q: str) -> list[QsClause]:
    """Lenient flat parse: SYNTAX never raises (exactly like ES), but a
    query parsing to more than :data:`QS_MAX_CLAUSES` clauses raises
    ValueError — the same too_many_clauses error ES returns, and the guard
    that keeps score_query_string's ``cid*10000+j`` phrase uids
    collision-free. See module docstring for the pinned rules."""
    clauses: list[QsClause] = []
    for m in _UNIT_RE.finditer(q or ""):
        sign, unit, quoted = m.group(1), m.group(2), m.group(3)
        pri = 1 if sign == "+" else (0 if sign == "-" else 2)
        if quoted is not None:
            toks = tuple(tokenize_one(quoted))
            if not toks:
                continue
            clauses.append(QsClause(pri, "phrase" if len(toks) > 1 else "term", toks))
            continue
        if unit in ("|", "+", "-"):
            continue
        is_prefix = unit.endswith("*")
        toks = tuple(tokenize_one(unit.rstrip("*")))
        if not toks:
            continue
        if is_prefix and len(toks) == 1:
            clauses.append(QsClause(pri, "prefix", toks))
        elif len(toks) > 1:
            clauses.append(QsClause(pri, "phrase", toks))
        else:
            clauses.append(QsClause(pri, "term", toks))
    if len(clauses) > QS_MAX_CLAUSES:
        raise ValueError(
            f"simple_query_string: too many clauses "
            f"({len(clauses)} > {QS_MAX_CLAUSES})"
        )
    return clauses


def score_query_string(
    postings: DataFrame,
    stats: DataFrame,
    tokens: DataFrame,
    parsed: dict[int, list[QsClause]],
    n_docs: int,
    avgdl: float,
    k: int = 5,
    params: BM25Params = BM25Params(),
) -> DataFrame:
    """Execute parsed simple_query_string clauses -> per-claim top-k
    (claim_id, rank, doc_id, score). ``parsed`` maps claim_id ->
    :func:`parse_simple_query_string` output; ``tokens`` is the positional
    (doc_id, pos, term) relation (only scanned when a phrase clause
    exists)."""
    from defactonlp_spark.operators.phrase import phrase_matches

    spark = postings.sparkSession
    term_rows, phrase_tok_rows, prefix_rows = [], [], []
    pmeta_rows = []  # (uid, claim_id, clause_id, pri)
    nmust_rows = []
    for cid, clauses in parsed.items():
        nmust_rows.append((cid, sum(1 for c in clauses if c.pri == 1)))
        for j, c in enumerate(clauses):
            if c.kind == "term":
                term_rows.append((cid, j, c.pri, c.tokens[0]))
            elif c.kind == "prefix":
                prefix_rows.append((cid, j, c.pri, c.tokens[0]))
            else:
                uid = cid * 10000 + j
                pmeta_rows.append((uid, cid, j, c.pri))
                for idx, t in enumerate(c.tokens):
                    phrase_tok_rows.append((uid, idx, t))

    hit_parts: list[DataFrame] = []
    hit_cols = ["claim_id", "clause_id", "pri", "doc_id", "contrib"]

    if term_rows:
        tc = spark.createDataFrame(
            term_rows, "claim_id long, clause_id int, pri int, term string"
        )
        hit_parts.append(
            postings.join(F.broadcast(tc.join(stats, "term", "inner")), "term", "inner")
            .withColumn("contrib", bm25_score_expr(n_docs, avgdl, params))
            .select(*hit_cols)
        )

    if pmeta_rows:
        qpos = spark.createDataFrame(
            phrase_tok_rows, "claim_id long, idx int, term string"
        )  # claim_id column carries the clause uid for phrase_matches
        matches = phrase_matches(tokens, qpos).withColumnRenamed("claim_id", "uid")
        pterms = (
            qpos.select(F.col("claim_id").alias("uid"), "term")
            .distinct()
            .join(stats, "term", "inner")
        )
        pmeta = spark.createDataFrame(
            pmeta_rows, "uid long, claim_id long, clause_id int, pri int"
        )
        pcontrib = (
            postings.join(
                F.broadcast(pterms), "term", "inner"
            )
            .withColumn("contrib", bm25_score_expr(n_docs, avgdl, params))
            .join(matches, ["uid", "doc_id"], "left_semi")
            .groupBy("uid", "doc_id")
            .agg(F.sum("contrib").alias("contrib"))
            .join(F.broadcast(pmeta), "uid", "inner")
        )
        hit_parts.append(pcontrib.select(*hit_cols))

    if prefix_rows:
        px = spark.createDataFrame(
            prefix_rows, "claim_id long, clause_id int, pri int, prefix string"
        )
        expanded = F.broadcast(px).join(
            stats.select("term"), F.col("term").startswith(F.col("prefix")), "inner"
        )
        hit_parts.append(
            postings.join(F.broadcast(expanded.select("claim_id", "clause_id", "pri", "term")), "term", "inner")
            .select("claim_id", "clause_id", "pri", "doc_id")
            .distinct()
            .withColumn("contrib", F.lit(1.0))
            .select(*hit_cols)
        )

    if not hit_parts:
        return spark.createDataFrame(
            [], "claim_id long, rank int, doc_id long, score double"
        )

    hits = hit_parts[0]
    for part in hit_parts[1:]:
        hits = hits.unionByName(part)

    nmust = spark.createDataFrame(nmust_rows, "claim_id long, n_must int")
    agg = (
        hits.groupBy("claim_id", "doc_id")
        .agg(
            F.sum(F.when(F.col("pri") != 0, F.col("contrib")).otherwise(F.lit(0.0))).alias("score"),
            F.sum((F.col("pri") == 1).cast("int")).alias("n_must_m"),
            F.sum((F.col("pri") == 0).cast("int")).alias("n_not_m"),
            F.sum((F.col("pri") == 2).cast("int")).alias("n_should_m"),
        )
        .join(F.broadcast(nmust), "claim_id", "inner")
        .filter(
            (F.col("n_not_m") == 0)
            & (F.col("n_must_m") == F.col("n_must"))
            & ((F.col("n_must") > 0) | (F.col("n_should_m") >= 1))
        )
    )
    return topk(agg, k, 6)
