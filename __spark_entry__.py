"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``     — flagship: build the inverted index over sf0.001
                       documents and answer claims with block-max WAND.
``queries()``        — one callable per implemented operator (SURVEY.md §2).
``oracle_sql()``     — DuckDB-runnable ANSI SQL twin for each query.

Column-name + rounding discipline: every computed column is aliased
identically on both sides, and every float is rounded (4-6 dp) on both
sides so independent float64 summation order cannot break the value hash.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# shared constants (mirrored literally into the SQL twins)
# --------------------------------------------------------------------------

BM25_CLAIMS = [
    (0, "the merge join"),
    (1, "window hash batch stream"),
    (2, "customer value order small"),
    (3, "spark group query row"),
    (4, "sort table scan vector"),
]
# boolean retrieval fixture: (claim_id, must, should, must_not) — exercises
# pure-must, pure-should, veto, out-of-corpus must, and the clause-precedence
# rule (term in every clause -> must_not wins)
BOOL_QUERIES = [
    (0, "merge batch", "spark window", "customer"),
    (1, "", "line stream", "join"),
    (2, "filter sort scan", "", ""),
    (3, "key qqunseenterm", "table", ""),
    (4, "query", "query", "query"),
]
# minimum_should_match fixture (msm=2): pure-should over 4 clauses,
# must+3-should, exactly-2-should (msm turns it into AND), zero should
# clauses (Lucene MatchNoDocs rewrite — unmatchable), and a 3-clause
# should with one out-of-corpus term (still satisfiable from the other 2)
MSM_QUERIES = [
    (0, "", "merge join window batch", ""),
    (1, "table", "spark group query", ""),
    (2, "", "customer value", ""),
    (3, "scan", "", ""),
    (4, "", "stream qqunseenterm row", ""),
]
MSM = 2

_MSM_VALUES = "(VALUES " + ", ".join(
    f"({i}, '{m}', '{s}', '{n}')" for i, m, s, n in MSM_QUERIES
) + ")"


DISMAX_TIE_BREAKER = 0.3


# boosting-query fixture: (claim_id, positive, negative). Claim 2 puts
# 'table' in BOTH clauses (precedence: must_not wins -> negative-only);
# claim 1's negative term is out-of-corpus (no demotion anywhere); claim
# 4's positive is out-of-corpus (no hits at all).
BOOSTING_QUERIES = [
    (0, "merge join", "customer"),
    (1, "window batch", "qqunseenterm"),
    (2, "table scan", "table"),
    (3, "spark query row", "group hash"),
    (4, "qqunseenterm", "merge"),
]
NEGATIVE_BOOST = 0.5


TOPHITS_FETCH_K = 20  # ranking depth the buckets are built from
TOPHITS_N = 2  # hits kept per (claim, facet value) bucket


K1, B = 1.2, 0.75
TOPK = 5

# claims with capitalized entity spans for A12 title-match (titles are the
# first two tokens of each document joined by '_', FEVER-escaped style)
TITLE_CLAIMS = [
    (0, "Fast Merge beats Table Small every time"),
    (1, "According to The Spark, Merge Group wins"),
    (2, "no entities in this claim at all"),
    (3, "Scan Key and Vector Spark are rivals"),
]

# A18 fixture: 4 claims exercising every scorer branch — set satisfied,
# label wrong, NEI auto-evidence, partial set (must fail containment)
FEVER_PRED = [
    (0, "SUPPORTS", [("p1", 0), ("p2", 1)]),
    (1, "REFUTES", [("p3", 2)]),
    (2, "NOT ENOUGH INFO", []),
    (3, "SUPPORTS", [("p9", 0)]),
]
FEVER_GOLD = [
    (0, "SUPPORTS", [[(1, 1, "p1", 0)], [(2, 2, "p7", 3)]]),
    (1, "SUPPORTS", [[(3, 3, "p3", 2)]]),
    (2, "NOT ENOUGH INFO", []),
    (3, "SUPPORTS", [[(4, 4, "p9", 0), (5, 5, "p10", 1)]]),
]

_TOKS_SQL = (
    "SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), "
    "'[^a-z0-9]+'), t -> t <> '')) AS term FROM documents"
)


def _non_ascii_word_chars(sf_dir: str) -> list[str]:
    """Non-ASCII characters of the corpus that the engine tokenizer keeps
    inside tokens (letters and digits after NFD + casefold); [] when the
    documents file is absent."""
    import re
    import unicodedata

    import pyarrow.parquet as pq

    from defactonlp_spark.functions.tokenize import TOKEN_RE

    path = f"{sf_dir}/documents.parquet"
    if not os.path.exists(path):
        return []
    chars = set()
    for text in pq.read_table(path, columns=["text"]).column("text").to_pylist():
        if text and not text.isascii():
            chars.update(re.findall(r"[^\x00-\x7f]", text))
    return sorted(
        c for c in chars if TOKEN_RE.search(unicodedata.normalize("NFD", c).casefold())
    )


def _require_ascii_corpus(twin: str, sf_dir: str) -> None:
    """Refuse to emit a twin whose SQL tokenizes with
    ``split(lower(text), '[^a-z0-9]+')`` for the corpus in ``sf_dir``. That
    split equals the engine tokenizer (NFD, casefold, runs of Unicode
    letters and digits) only on ASCII text: on 'café' the engine emits
    'cafe' and the split 'caf'."""
    bad = _non_ascii_word_chars(sf_dir)
    if bad:
        raise ValueError(
            f"{twin}: {sf_dir}/documents.parquet holds non-ASCII letters or digits "
            f"({''.join(bad[:10])}); its lower(text) split on [^a-z0-9]+ matches the "
            "engine tokenizer only on ASCII text, so no twin is emitted for this corpus"
        )

_CLAIMS_SQL = "(VALUES " + ", ".join(f"({i}, '{c}')" for i, c in BM25_CLAIMS) + ")"


def _bm25_sql(
    toks_sql: str,
    claims_sql: str,
    k: int,
    select: str | None = None,
    order_by: str = "score DESC, doc_id",
    conjunctive: bool = False,
    mask_sql: str | None = None,
) -> str:
    """BM25 core as reusable SQL: toks(doc_id, term) + claims -> top-k.
    ``select`` overrides the final projection (gets `claim_id, doc_id, score,
    rn` in scope); ``order_by`` overrides the rank order (rank on
    round(score, 4) when cross-engine float summation order could flip a
    raw-score tie). ``conjunctive=True`` keeps only docs matching ALL of a
    claim's terms (boolean-AND retrieval; n_q counted BEFORE the postings
    join so out-of-corpus terms make the claim unmatchable). ``mask_sql``
    (a predicate over p.doc_id) drops tombstoned docs from SCORING ONLY —
    df / dl / N / avgdl stay full-corpus: the engine's pre-compaction
    live-docs serving semantics."""
    final = select or (
        "claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score"
    )
    ranked_src = "scored"
    conj_ctes = ""
    if conjunctive:
        conj_ctes = """,
qcount AS (SELECT claim_id, count(*)::BIGINT AS n_q FROM qterms GROUP BY 1),
conj AS (
  SELECT s.claim_id, s.doc_id, s.score
  FROM scored s JOIN qcount c ON c.claim_id = s.claim_id AND s.n_matched = c.n_q
)"""
        ranked_src = "conj"
    return f"""
WITH toks AS ({toks_sql}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, claim) AS {claims_sql},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score,
         count(*)::BIGINT AS n_matched
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  {f"WHERE {mask_sql}" if mask_sql else ""}
  GROUP BY 1, 2
){conj_ctes}
SELECT {final}
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id ORDER BY {order_by}) AS rn
      FROM {ranked_src})
WHERE rn <= {k}
"""


_BM25_CORE_SQL = _bm25_sql(_TOKS_SQL, _CLAIMS_SQL, TOPK)

from defactonlp_spark.functions.pii import pii_oracle_sql as _pii_oracle_sql  # noqa: E402
from defactonlp_spark.functions.stem import S_STEM_SQL_CASE as _S_STEM_CASE  # noqa: E402

# RM3 twin — the full pinned spec from operators/expansion.py: first pass
# (rank on round(score,6)), p(D) normalization, rm weights @9dp, top
# fb_terms, renormalize @9dp, alpha-interpolate @9dp, weighted second pass
# (rank on round(score,6)), final scores @4dp
_RM3_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, claim) AS {{claims}},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
scored1 AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
fbdocs AS (
  SELECT claim_id, doc_id, score
  FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
          ORDER BY round(score, 6) DESC, doc_id) AS rn FROM scored1)
  WHERE rn <= {{fb_docs}}
),
fb AS (
  SELECT f.claim_id, f.doc_id, f.score / s.ssum AS p_d
  FROM fbdocs f JOIN (SELECT claim_id, sum(score) AS ssum FROM fbdocs GROUP BY 1) s
    USING (claim_id)
),
rm AS (
  SELECT f.claim_id, p.term, round(sum(p.tf / l.dl * f.p_d), 9) AS rm_w
  FROM fb f
  JOIN postings p ON p.doc_id = f.doc_id
  JOIN dl l ON l.doc_id = f.doc_id
  GROUP BY 1, 2
),
kept AS (
  SELECT claim_id, term, rm_w
  FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
          ORDER BY rm_w DESC, term) AS rn FROM rm)
  WHERE rn <= {{fb_terms}}
),
rm_p AS (
  SELECT k.claim_id, k.term, round(k.rm_w / s.ksum, 9) AS rm_p
  FROM kept k JOIN (SELECT claim_id, sum(rm_w) AS ksum FROM kept GROUP BY 1) s
    USING (claim_id)
),
orig AS (
  SELECT q.claim_id, q.term, 1.0 / s.n_q AS orig_p
  FROM qterms q JOIN (SELECT claim_id, count(*) AS n_q FROM qterms GROUP BY 1) s
    USING (claim_id)
),
wterms AS (
  SELECT coalesce(o.claim_id, r.claim_id) AS claim_id,
         coalesce(o.term, r.term) AS term,
         round({{alpha}} * coalesce(o.orig_p, 0) + {{one_minus_alpha}} * coalesce(r.rm_p, 0), 9) AS weight
  FROM orig o FULL OUTER JOIN rm_p r ON o.claim_id = r.claim_id AND o.term = r.term
),
scored2 AS (
  SELECT w.claim_id, p.doc_id,
         sum( w.weight * ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM wterms w
  JOIN postings p ON p.term = w.term
  JOIN dfreq d ON d.term = w.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rn FROM scored2)
WHERE rn <= {{k}}
"""

# URL feature extraction twin — the SAME regex patterns as
# functions/urls.py (Java/RE2 shared dialect), over the synthesized url
_URL_FEATS_SQL = """
WITH u AS {src},
hp AS (
  SELECT doc_id, url,
         nullif(regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1), '') AS scheme,
         nullif(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1), '') AS hostport,
         nullif(regexp_extract(url, '://[^/?#]*(/[^?#]*)', 1), '') AS path,
         nullif(regexp_extract(url, '\\?([^#]*)', 1), '') AS query
  FROM u
),
f AS (
  SELECT doc_id, url, scheme, path, query,
         nullif(regexp_extract(hostport, '^([^:]+)', 1), '') AS host,
         nullif(regexp_extract(hostport, ':([0-9]+)$', 1), '')::INTEGER AS port
  FROM hp
)
SELECT doc_id, scheme, host, port, path, query,
       nullif(regexp_extract(host, '([^.]+\\.[^.]+)$', 1), '') AS registrable_domain,
       (CASE WHEN path IS NOT NULL
             THEN len(path) - len(replace(path, '/', ''))
             ELSE 0 END)::INTEGER AS path_depth,
       (CASE WHEN scheme = 'https' THEN 1 ELSE 0 END)::INTEGER AS is_https
FROM f
"""

# boolean (must/should/must_not) twin — same BM25 core, clause logic as
# integer precedence (0 must_not, 1 must, 2 should; min() = the engine's
# clause-precedence dedup in operators/bm25.py::boolean_terms)
_BOOL_VALUES = "(VALUES " + ", ".join(
    f"({i}, '{m}', '{s}', '{n}')" for i, m, s, n in BOOL_QUERIES
) + ")"
_SPLIT = "unnest(list_filter(regexp_split_to_array(lower({c}), '[^a-z0-9]+'), t -> t <> ''))"


def _bool_sql_for(values_sql: str, msm: int = 0) -> str:
    """Boolean-retrieval twin over a (claim_id, must, should, must_not)
    VALUES list; ``msm`` adds the minimum_should_match constraint exactly
    as operators/bm25.py::score_boolean applies it (n_should_m >= msm on
    matched DISTINCT should terms; a claim with fewer should clauses than
    msm is unmatchable — the Lucene MatchNoDocsQuery rewrite)."""
    return f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
bq(claim_id, must, should, must_not) AS {values_sql},
clause_terms AS (
  SELECT claim_id, 1 AS pri, {_SPLIT.format(c='must')} AS term FROM bq
  UNION ALL
  SELECT claim_id, 2 AS pri, {_SPLIT.format(c='should')} AS term FROM bq
  UNION ALL
  SELECT claim_id, 0 AS pri, {_SPLIT.format(c='must_not')} AS term FROM bq
),
qterms AS (SELECT claim_id, term, min(pri) AS pri FROM clause_terms GROUP BY 1, 2),
nmust AS (SELECT claim_id, sum(CASE WHEN pri = 1 THEN 1 ELSE 0 END)::BIGINT AS n_must
          FROM qterms GROUP BY 1),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum(CASE WHEN q.pri <> 0 THEN
               ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
               * p.tf * {K1 + 1.0}
               / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl))
             ELSE 0 END) AS score,
         sum(CASE WHEN q.pri = 1 THEN 1 ELSE 0 END)::BIGINT AS n_must_m,
         sum(CASE WHEN q.pri = 0 THEN 1 ELSE 0 END)::BIGINT AS n_not_m,
         sum(CASE WHEN q.pri = 2 THEN 1 ELSE 0 END)::BIGINT AS n_should_m
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
ok AS (
  SELECT s.claim_id, s.doc_id, s.score
  FROM scored s JOIN nmust m USING (claim_id)
  WHERE s.n_not_m = 0 AND s.n_must_m = m.n_must
    AND (m.n_must > 0 OR s.n_should_m >= 1)
    AND s.n_should_m >= {int(msm)}
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id ORDER BY score DESC, doc_id) AS rn
      FROM ok)
WHERE rn <= {TOPK}
"""


_BOOL_SQL = _bool_sql_for(_BOOL_VALUES)

# shared per-posting BM25 contribution relation (claim_id, doc_id, term,
# tf, idf, c) over the ad-hoc claim set — the dis_max / boosting / explain
# twins all start here, exactly like the engine paths share one scan
_CONTRIBS_CTES = f"""
toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, claim) AS {{claims_sql}},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
contribs AS (
  SELECT q.claim_id, p.doc_id, q.term, p.tf,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) AS idf,
         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * p.tf * {K1 + 1.0}
           / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) AS c
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
)"""

# dis_max twin: score = max(c) + tie_breaker * (sum(c) - max(c))
_DISMAX_SQL = f"""
WITH {_CONTRIBS_CTES.format(claims_sql=_CLAIMS_SQL)},
scored AS (
  SELECT claim_id, doc_id,
         max(c) + {DISMAX_TIE_BREAKER} * (sum(c) - max(c)) AS score
  FROM contribs GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id ORDER BY score DESC, doc_id) AS rn
      FROM scored)
WHERE rn <= {TOPK}
"""

# explain twin: per-term breakdown rows of the top-k hits; rank =
# dense_rank over the per-doc-unique (round(score,6), doc_id) key
_EXPLAIN_SQL = f"""
WITH {_CONTRIBS_CTES.format(claims_sql=_CLAIMS_SQL)},
tot AS (
  SELECT *, sum(c) OVER (PARTITION BY claim_id, doc_id) AS score FROM contribs
),
rk AS (
  SELECT *, dense_rank() OVER (
    PARTITION BY claim_id ORDER BY round(score, 6) DESC, doc_id
  ) AS rnk FROM tot
)
SELECT claim_id::BIGINT AS claim_id, rnk::INTEGER AS rank,
       doc_id::BIGINT AS doc_id, term, tf::BIGINT AS tf,
       round(idf, 6) AS idf, round(c, 4) AS contrib, round(score, 4) AS score
FROM rk WHERE rnk <= {TOPK}
"""

# boosting twin: positive BM25 sum, demoted by negative_boost when any
# negative term matches; positive-only qualification; clause-precedence
# dedup (must_not wins) shared with the boolean twin
_BOOSTING_VALUES = "(VALUES " + ", ".join(
    f"({i}, '{p}', '{n}')" for i, p, n in BOOSTING_QUERIES
) + ")"
_BOOSTING_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
bq(claim_id, positive, negative) AS {_BOOSTING_VALUES},
clause_terms AS (
  SELECT claim_id, 1 AS pri, {_SPLIT.format(c='positive')} AS term FROM bq
  UNION ALL
  SELECT claim_id, 0 AS pri, {_SPLIT.format(c='negative')} AS term FROM bq
),
qterms AS (SELECT claim_id, term, min(pri) AS pri FROM clause_terms GROUP BY 1, 2),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum(CASE WHEN q.pri <> 0 THEN
               ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
               * p.tf * {K1 + 1.0}
               / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl))
             ELSE 0 END) AS pos_score,
         sum(CASE WHEN q.pri <> 0 THEN 1 ELSE 0 END)::BIGINT AS n_pos_m,
         sum(CASE WHEN q.pri = 0 THEN 1 ELSE 0 END)::BIGINT AS n_neg_m
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
ok AS (
  SELECT claim_id, doc_id,
         pos_score * CASE WHEN n_neg_m > 0 THEN {NEGATIVE_BOOST} ELSE 1.0 END AS score
  FROM scored WHERE n_pos_m > 0
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id ORDER BY score DESC, doc_id) AS rn
      FROM ok)
WHERE rn <= {TOPK}
"""

# terms-agg + top_hits twin: top-20 cut and bucket order both on
# (round(score,6) DESC, doc_id); output score = round4 of the 6dp value
# (the engine rounds 6 then 4 — the twin must round twice identically)
_TOPHITS_SQL = f"""
WITH {_CONTRIBS_CTES.format(claims_sql=_CLAIMS_SQL)},
scored AS (SELECT claim_id, doc_id, sum(c) AS score FROM contribs GROUP BY 1, 2),
topn AS (
  SELECT claim_id, doc_id, round(score, 6) AS score
  FROM (SELECT *, row_number() OVER (
          PARTITION BY claim_id ORDER BY round(score, 6) DESC, doc_id) AS rn
        FROM scored)
  WHERE rn <= {TOPHITS_FETCH_K}
),
buckets AS (
  SELECT t.claim_id, d.source, t.doc_id, t.score,
         row_number() OVER (PARTITION BY t.claim_id, d.source
                            ORDER BY t.score DESC, t.doc_id) AS hit_rank
  FROM topn t JOIN documents d ON d.doc_id = t.doc_id
)
SELECT claim_id::BIGINT AS claim_id, source, hit_rank::INTEGER AS hit_rank,
       doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM buckets WHERE hit_rank <= {TOPHITS_N}
"""

# ---- SQL twins for the reference-surface operators (A12-A15, A18, A9-A11) --

_CHUNKS_SQL = """
WITH base AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS tl
  FROM documents
),
chunks AS (
  SELECT doc_id, i - 1 AS sent_idx,
         array_to_string(tl[(i-1)*10+1:i*10], ' ') AS sentence
  FROM base, unnest(range(1, CAST(ceil(len(tl)/10.0) AS INTEGER) + 1)) AS u(i)
)
"""

_SENT_TOKS_SQL = """
SELECT (doc_id * 1048576 + sent_idx) AS doc_id,
       unnest(list_filter(regexp_split_to_array(lower(sentence), '[^a-z0-9]+'),
                          t -> t <> '')) AS term
FROM (
  SELECT doc_id, i - 1 AS sent_idx,
         array_to_string(tl[(i-1)*10+1:i*10], ' ') AS sentence
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                   t -> t <> '') AS tl FROM documents) b,
       unnest(range(1, CAST(ceil(len(tl)/10.0) AS INTEGER) + 1)) AS u(i)
)
"""


def _title_claims_sql() -> str:
    return "(VALUES " + ", ".join(f"({i}, '{c}')" for i, c in TITLE_CLAIMS) + ")"


def _title_match_sql() -> str:
    """A12 oracle: capitalized-span entities joined to first-two-token titles.
    The regex mirrors defactonlp_spark.operators.docretrieval._CAP_SPAN."""
    ent_re = r"(?:[A-Z][\w''-]*)(?:\s+[A-Z][\w''-]*)*"
    return f"""
        WITH titled AS (
          SELECT doc_id,
                 array_to_string((list_filter(regexp_split_to_array(lower(text),
                   '[^a-z0-9]+'), t -> t <> ''))[1:2], '_') AS title
          FROM documents
        ),
        claims(claim_id, claim) AS {_title_claims_sql()},
        ents AS (
          SELECT DISTINCT claim_id, lower(e) AS ent_norm
          FROM claims, unnest(regexp_extract_all(claim, '{ent_re}')) AS u(e)
          WHERE length(e) > 1
        )
        SELECT DISTINCT e.claim_id::BIGINT AS claim_id, t.doc_id::BIGINT AS doc_id
        FROM titled t JOIN ents e ON replace(lower(t.title), '_', ' ') = e.ent_norm
    """


def _drqa_sql() -> str:
    """A9-A11 oracle: DrQA tf-idf (uni+bigrams, stopword filter, log1p tf x
    clamped idf, sparse dot). Valid because fixture text is pure lowercase
    [a-z0-9 ]+ (verified), where SimpleTokenizer == whitespace split and the
    all-punctuation ngram filter never fires. Stopword list is imported from
    the engine module so the two sides cannot drift."""
    from defactonlp_spark.operators.drqa import STOPWORDS

    stop = "[" + ", ".join(f"'{w}'" for w in sorted(STOPWORDS)) + "]"
    tokset = (
        "SELECT {id} AS gid, list_filter(regexp_split_to_array(lower({txt}), "
        "'[^a-z0-9]+'), t -> t <> '') AS tl FROM {src}"
    )
    grams = (
        "SELECT gid, unnest(tl) AS g FROM {b} "
        "UNION ALL "
        "SELECT gid, unnest([tl[i] || ' ' || tl[i+1] FOR i IN range(1, len(tl))]) AS g "
        "FROM {b} WHERE len(tl) >= 2"
    )
    return f"""
        WITH dbase AS ({tokset.format(id="doc_id", txt="text", src="documents")}),
        dgrams AS ({grams.format(b="dbase")}),
        dfilt AS (SELECT gid, g FROM dgrams
                  WHERE len(list_filter(string_split(g, ' '),
                                        t -> list_contains({stop}, t))) = 0),
        post AS (SELECT g, gid AS doc_id, count(*)::BIGINT AS tf FROM dfilt GROUP BY 1, 2),
        nt AS (SELECT g, count(*)::DOUBLE AS nt FROM post GROUP BY 1),
        ndocs AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM documents),
        w AS (SELECT p.g, p.doc_id,
                     ln(1 + p.tf) * greatest(ln((s.n - t.nt + 0.5) / (t.nt + 0.5)), 0.0) AS w
              FROM post p JOIN nt t ON p.g = t.g CROSS JOIN ndocs s),
        claims(claim_id, claim) AS {_CLAIMS_SQL},
        qbase AS ({tokset.format(id="claim_id", txt="claim", src="claims")}),
        qgrams AS ({grams.format(b="qbase")}),
        qfilt AS (SELECT gid, g FROM qgrams
                  WHERE len(list_filter(string_split(g, ' '),
                                        t -> list_contains({stop}, t))) = 0),
        qpost AS (SELECT gid AS claim_id, g, count(*)::BIGINT AS tf FROM qfilt GROUP BY 1, 2),
        qw AS (SELECT q.claim_id, q.g,
                      ln(1 + q.tf) * greatest(ln((s.n - t.nt + 0.5) / (t.nt + 0.5)), 0.0) AS qw
               FROM qpost q JOIN nt t ON q.g = t.g CROSS JOIN ndocs s),
        scored AS (SELECT qw.claim_id, w.doc_id, sum(w.w * qw.qw) AS score
                   FROM w JOIN qw ON w.g = qw.g
                   GROUP BY 1, 2 HAVING sum(w.w * qw.qw) > 0)
        SELECT claim_id::BIGINT AS claim_id, rn::BIGINT AS rank,
               doc_id::BIGINT AS doc_id, round(score, 4) AS score
        FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
                 ORDER BY score DESC, doc_id) AS rn FROM scored)
        WHERE rn <= {TOPK}
    """


def _fever_sql() -> str:
    """A18 oracle: the FEVER_PRED/FEVER_GOLD fixture re-expressed with
    page#sent keys; set containment via nested list_filter."""

    def keys(ev):
        return "[" + ", ".join(f"'{p}#{s}'" for p, s in ev) + "]" if ev else "[]::VARCHAR[]"

    pred_rows = ", ".join(
        f"({cid}, '{lbl}', {keys(ev)})" for cid, lbl, ev in FEVER_PRED
    )
    gold_rows = ", ".join(
        "({}, '{}', {})".format(
            cid, lbl,
            "[" + ", ".join(keys([(m[2], m[3]) for m in s]) for s in sets) + "]"
            if sets else "[]::VARCHAR[][]",
        )
        for cid, lbl, sets in FEVER_GOLD
    )
    return f"""
        WITH pred(claim_id, predicted_label, pred_keys) AS (VALUES {pred_rows}),
        gold(claim_id, label, sets) AS (VALUES {gold_rows}),
        per AS (
          SELECT g.claim_id,
                 (g.label = p.predicted_label)::INT AS label_ok,
                 CASE WHEN g.label = 'NOT ENOUGH INFO' THEN 1
                      WHEN len(list_filter(g.sets,
                             s -> len(list_filter(s,
                                    m -> NOT list_contains(p.pred_keys, m))) = 0)) > 0
                      THEN 1 ELSE 0 END AS evidence_ok
          FROM gold g LEFT JOIN pred p USING (claim_id)
        )
        SELECT count(*)::BIGINT AS n,
               round(avg(label_ok), 6) AS label_accuracy,
               round(avg(evidence_ok), 6) AS evidence_recall,
               round(avg(label_ok * evidence_ok), 6) AS fever_score
        FROM per
    """


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _claims_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(BM25_CLAIMS, "claim_id long, claim string")


def _engine_corpus_stats(postings):
    from defactonlp_spark.operators.postings import corpus_stats

    row = corpus_stats(postings).collect()[0]
    return int(row["n_docs"]), float(row["avgdl"])


# ---------------------------------------------------------------------------
# Session-scoped shared fixtures (VERDICT r3 #3). The driver's bench runs all
# 94 queries in ONE session; before this memo layer every index-path query
# re-tokenized (and the segment queries re-encoded) the corpus from scratch —
# correct-by-isolation but 10-30 Spark stages per query, hypersensitive to
# host load (the five >2x-weak queries of BENCH_r03 were exactly these).
# A deployment encodes once and serves many (ServingSession); these memos are
# that shape for the harness. Keyed by (spark, sf_dir) so a fresh session or
# a different scale factor never sees a stale relation, and EXEMPT from
# operators.dedup.release_cached() BY DESIGN (bare .persist(), untracked):
# they are the session's serving state, not per-query intermediates.
# ---------------------------------------------------------------------------
_MEMO: dict = {}


def _postings_cached(spark, sf_dir):
    """Tokenize once per session, persist: the ad-hoc BM25 queries read the
    postings long table 3-4 times (stats, df, scoring) and ~25 harness
    queries share the SAME relation. (IndexBuild materializes postings to
    parquet for the same reason — this is the ad-hoc analog.)"""
    key = (spark, "postings", sf_dir)
    if key not in _MEMO:
        from defactonlp_spark.operators.postings import build_postings

        _MEMO[key] = build_postings(_docs(spark, sf_dir)).persist()
    return _MEMO[key]


def _pruned_postings_cached(spark, sf_dir):
    """Carmel-pruned postings (top-N per term), pruned once per session —
    shared by all three pruned-tier consumers (q_bm25_topk_pruned,
    q_pruned_rbo, q_ndcg_pruned), each of which used to run its own salted
    two-phase prune pass over the full postings (VERDICT r4 "What's wrong"
    #1: ndcg_pruned's 15.5 s driver wall was prune + two exhaustive
    scorings; the prune half is now amortized like every other serving
    fixture). Same deployment logic as the rest of _MEMO: a tiered-serving
    deployment prunes once at publish time and serves many."""
    key = (spark, "pruned_postings", sf_dir)
    if key not in _MEMO:
        from defactonlp_spark.operators.postings import prune_postings, term_stats

        p = _postings_cached(spark, sf_dir)
        n_docs, avgdl = _engine_corpus_stats(p)
        _MEMO[key] = prune_postings(
            p, term_stats(p), n_docs, avgdl, keep_n=PRUNE_KEEP_N
        ).persist()
    return _MEMO[key]


def _tokens_cached(spark, sf_dir):
    """Positional (doc_id, pos, term) relation, tokenized once per session —
    shared by the phrase family, proximity, best-passage, BM25F's field
    split, and the v2 percolator."""
    key = (spark, "tokens", sf_dir)
    if key not in _MEMO:
        from defactonlp_spark.functions.tokenize import tokenize_tokens

        _MEMO[key] = tokenize_tokens(_docs(spark, sf_dir)).persist()
    return _MEMO[key]


def _fields_cached(spark, sf_dir):
    """(doc_id, field, term, tf, dl_f) lead/body relation, split once per
    session from the shared tokens fixture — shared by all THREE
    multi-field scorers (BM25F, combined_fields, multi_match best_fields).
    Replaces the per-query bare .persist() each scorer used to take, which
    release_cached() never dropped (three leaked copies per session)."""
    key = (spark, "fields", sf_dir)
    if key not in _MEMO:
        from defactonlp_spark.operators.bm25f import lead_body_fields

        _MEMO[key] = lead_body_fields(
            None, lead_n=BM25F_LEAD_N, tokens=_tokens_cached(spark, sf_dir)
        ).persist()
    return _MEMO[key]


def _segments_cached(spark, sf_dir):
    """Delta+varbyte segment table (8 buckets), encoded ONCE per session —
    the harness analog of a deployment's stored index. Serves the WAND and
    tombstone-masked queries; q_bm25_topk_merged deliberately keeps its own
    two-generation encode (the compaction IS what that query tests)."""
    key = (spark, "segments", sf_dir)
    if key not in _MEMO:
        from defactonlp_spark.config import EngineConfig
        from defactonlp_spark.operators.postings import term_stats
        from defactonlp_spark.operators.segments import encode_segments

        cfg = EngineConfig(n_buckets=8)
        p = _postings_cached(spark, sf_dir)
        n_docs, avgdl = _engine_corpus_stats(p)
        stats = term_stats(p)
        seg = encode_segments(p, stats, n_docs, avgdl, cfg, 8).persist()
        _MEMO[key] = (seg, n_docs, avgdl, cfg)
    return _MEMO[key]


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def q_term_tf_totals(spark, sf_dir):
    p = _postings_cached(spark, sf_dir)
    return p.groupBy("term").agg(
        F.sum("tf").cast("long").alias("total_tf"),
        F.count(F.lit(1)).cast("long").alias("df"),
    )


def q_corpus_stats(spark, sf_dir):
    from defactonlp_spark.operators.postings import corpus_stats

    cs = corpus_stats(_postings_cached(spark, sf_dir))
    return cs.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round("avgdl", 6).alias("avgdl"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
    )


def q_bm25_topk(spark, sf_dir):
    """Exhaustive DataFrame BM25 (operator B6)."""
    from defactonlp_spark.operators.bm25 import claim_terms, score_exhaustive
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    res = score_exhaustive(p, term_stats(p), claim_terms(_claims_df(spark)), n_docs, avgdl, k=TOPK)
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_bm25_topk_collapsed(spark, sf_dir):
    """Field-collapsed retrieval (Elasticsearch `collapse` / host-crowding):
    best doc per source per claim, then top-k across sources. Both engines
    rank on (round(score,6) DESC, doc_id) so the collapse choice is
    engine-portable under float summation noise."""
    from defactonlp_spark.operators.bm25 import claim_terms, score_collapsed
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    groups = _docs(spark, sf_dir).select("doc_id", F.col("source").alias("group"))
    res = score_collapsed(
        p, term_stats(p), claim_terms(_claims_df(spark)), n_docs, avgdl, groups, k=TOPK
    )
    return res.select(
        "claim_id",
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        F.col("group").alias("source"),
        F.round("score", 4).alias("score"),
    )


def q_bm25_topk_wand(spark, sf_dir):
    """Block-max WAND over delta+varbyte segments (operator B7) — same oracle
    as the exhaustive path: the parity guarantee, checked by the driver.
    Serves from the session's shared segment fixture (encode once, query
    many — the deployment shape)."""
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.wand import wand_topk

    seg, n_docs, avgdl, cfg = _segments_cached(spark, sf_dir)
    res = wand_topk(seg, claim_terms(_claims_df(spark)), n_docs, avgdl, k=TOPK, cfg=cfg)
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


# wildcard fixture: prefix (s*), single-char (qu?ry / ?ash), suffix/infix
# (*ream / vec*or), and one all-literal control row. WILDCARD_EXP=4 is BELOW
# s*'s 6 dictionary matches so the df-ranked top-terms cut is exercised.
WILDCARD_CLAIMS = [
    (0, "s* join"),
    (1, "qu?ry ?ash"),
    (2, "*ream vec*or"),
    (3, "table order"),
]
WILDCARD_EXP = 4


def q_wildcard_topk(spark, sf_dir):
    """Wildcard retrieval (Lucene WildcardQuery + top-terms scoring
    rewrite): patterns expand against the term dictionary — never the
    postings — to the WILDCARD_EXP highest-df matches, then score as a
    plain disjunction with each matched term's own idf
    (operators/expansion.py::expand_wildcards)."""
    from defactonlp_spark.operators.bm25 import score_exhaustive
    from defactonlp_spark.operators.expansion import expand_wildcards, wildcard_terms
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    stats = term_stats(p)
    claims = spark.createDataFrame(WILDCARD_CLAIMS, "claim_id long, claim string")
    q = expand_wildcards(stats, wildcard_terms(claims), WILDCARD_EXP)
    res = score_exhaustive(p, stats, q, n_docs, avgdl, k=TOPK, rank_dp=6)
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_decontaminate_spans(spark, sf_dir):
    """Span-level benchmark decontamination (the Lee et al. span machinery
    pointed at an eval set): every maximal token span whose every 8-gram
    occurs in the 'eval set' (every 97th doc) — what a pipeline REDACTS
    instead of dropping whole documents
    (operators/dedup.py::decontaminate_spans)."""
    from defactonlp_spark.operators.dedup import decontaminate_spans

    docs = _docs(spark, sf_dir)
    ev = docs.filter((F.col("doc_id") % 97) == 0).select("text")
    return decontaminate_spans(docs, ev, gram_len=DUPSPAN_L)


# span-near fixture: ALL phrases are 3 terms so the DuckDB twin can state
# the brute-force existential (p0<p1<p2, width <= 3+slop) as one 3-way
# join — a STRONGER oracle than replaying the engine's greedy frontier
# (their equivalence is the exchange-argument theorem the driver then
# checks). Probed at sf0.01: each of 0-3 matches MORE docs at slop 2 than
# at adjacency, 4 matches nothing.
SPAN_SLOP = 2
SPAN_PHRASES = [
    (0, "hash join fast"),
    (1, "customer order row"),
    (2, "window stream batch"),
    (3, "big data table"),
    (4, "spark query engine"),
]


def q_span_near_topk(spark, sf_dir):
    """Ordered span-near retrieval (Lucene SpanNearQuery in_order=true,
    operators/phrase.py::score_span_near): docs where the phrase terms
    appear IN ORDER within a span of phrase_len + slop tokens — the
    greedy anchor-frontier of bounded range joins; matching docs
    BM25-ranked over the phrase terms with stored stats."""
    from defactonlp_spark.operators.phrase import score_span_near
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    phrases = spark.createDataFrame(SPAN_PHRASES, "claim_id long, phrase string")
    res = score_span_near(
        p, term_stats(p), _tokens_cached(spark, sf_dir), phrases, n_docs, avgdl,
        slop=SPAN_SLOP, k=TOPK,
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


# regex fixture: alternation, dot-star, bounded +, and a no-match pattern —
# all inside the Java-regex / RE2 / DuckDB-regex common subset the
# operator's portability contract pins (full-term anchored on both sides)
REGEX_PATTERNS = [
    (0, "(hash|merge)"),
    (1, "s.*m"),
    (2, "cust.+r"),
    (3, "zz+q"),
]
REGEX_EXP = 8


def q_regex_topk(spark, sf_dir):
    """Regexp retrieval (Lucene RegexpQuery surface,
    operators/expansion.py::expand_regex): anchored full-term patterns
    expand against the term dictionary to the REGEX_EXP highest-df
    matches, scored as a plain disjunction with each term's own idf."""
    from defactonlp_spark.operators.bm25 import score_exhaustive
    from defactonlp_spark.operators.expansion import expand_regex
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    stats = term_stats(p)
    pats = spark.createDataFrame(REGEX_PATTERNS, "claim_id long, pattern string")
    q = expand_regex(stats, pats, REGEX_EXP)
    res = score_exhaustive(p, stats, q, n_docs, avgdl, k=TOPK, rank_dp=6)
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


# function_score gauss decay pinned params over n_chars (range 48-553 at
# sf0.01, median ~300): boost 1 inside [250, 350], exactly 0.5 at distance
# offset+scale — a length-quality prior, the ES decay-function shape
DECAY_ORIGIN, DECAY_OFFSET, DECAY_SCALE = 300.0, 50.0, 150.0


def q_bm25_topk_decay(spark, sf_dir):
    """function_score retrieval (ES gauss decay,
    operators/bm25.py::gauss_decay_expr composed with score_boosted):
    final = bm25 * gauss(n_chars; origin, offset, scale), the multiplier
    rounded to 6 dp before the multiply (the boost-portability device)."""
    from defactonlp_spark.operators.bm25 import (
        claim_terms, gauss_decay_expr, score_boosted,
    )
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    boosts = _docs(spark, sf_dir).select(
        "doc_id",
        F.round(
            gauss_decay_expr(F.col("n_chars"), DECAY_ORIGIN, DECAY_OFFSET, DECAY_SCALE),
            6,
        ).alias("boost"),
    )
    res = score_boosted(
        p, term_stats(p), claim_terms(_claims_df(spark)), n_docs, avgdl, boosts, k=TOPK
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


RESCORE_QW, RESCORE_RW = 0.7, 0.3


def q_bm25_topk_rescored(spark, sf_dir):
    """Rescore window (ES rescore semantics,
    operators/ltr.py::rescore_topk): BM25 selects the top-10 window (the
    ltr_features relation), Dirichlet query likelihood re-scores ONLY
    that window, final = 0.7*bm25 + 0.3*lm_qlh — zero extra corpus scans
    beyond the feature logger's two."""
    from defactonlp_spark.functions.textstats import quality_features
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.lm import ctf_stats
    from defactonlp_spark.operators.ltr import ltr_features, rescore_topk
    from defactonlp_spark.operators.postings import corpus_stats, term_stats

    p = _postings_cached(spark, sf_dir)
    cs = corpus_stats(p).collect()[0]
    n_docs, avgdl, total = int(cs["n_docs"]), float(cs["avgdl"]), int(cs["total_tokens"])
    qual = quality_features(_docs(spark, sf_dir)).select("doc_id", "quality")
    feats = ltr_features(
        p, term_stats(p), ctf_stats(p), claim_terms(_claims_df(spark)), qual,
        n_docs, avgdl, total, k=LTR_K, mu=LTR_MU,
    )
    res = rescore_topk(feats, k=TOPK, query_weight=RESCORE_QW, rescore_weight=RESCORE_RW)
    # round at 5 dp, NOT 4: 0.7*b + 0.3*l over 4-dp features is EXACT at
    # five decimals, so 4-dp rounding would sit precisely on half-way
    # boundaries and flip per engine float noise; at 5 dp there is no
    # boundary to disagree on
    return res.select("claim_id", "doc_id", F.round("score", 5).alias("score"))


def q_bm25_topk_conjunctive(spark, sf_dir):
    """Boolean-AND retrieval: top-k docs containing ALL of a claim's terms,
    BM25-ranked (operators/bm25.py::score_conjunctive; same group-count
    intersection the index path query_conjunctive runs over decoded
    segments)."""
    from defactonlp_spark.operators.bm25 import claim_terms, score_conjunctive
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    res = score_conjunctive(
        p, term_stats(p), claim_terms(_claims_df(spark)), n_docs, avgdl, k=TOPK
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


LM_MU = 2000.0
PRUNE_KEEP_N = 3


def q_lm_dirichlet_topk(spark, sf_dir):
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty 2001;
    Lucene LMDirichletSimilarity analog) — same scan/broadcast/agg envelope
    as BM25, different scoring model (operators/lm.py)."""
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.lm import ctf_stats, score_lm_dirichlet
    from defactonlp_spark.operators.postings import corpus_stats

    p = _postings_cached(spark, sf_dir)
    total = int(corpus_stats(p).collect()[0]["total_tokens"])
    res = score_lm_dirichlet(
        p, ctf_stats(p), claim_terms(_claims_df(spark)), total, mu=LM_MU, k=TOPK
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_doc_perplexity(spark, sf_dir):
    """Per-doc unigram-LM cross-entropy + perplexity over the corpus's own
    model — the CCNet-style quality-filter signal, exactly computable
    (operators/lm.py::doc_perplexity)."""
    from defactonlp_spark.operators.lm import ctf_stats, doc_perplexity
    from defactonlp_spark.operators.postings import corpus_stats

    p = _postings_cached(spark, sf_dir)
    total = int(corpus_stats(p).collect()[0]["total_tokens"])
    return doc_perplexity(p, ctf_stats(p), total)


def q_bm25_topk_pruned(spark, sf_dir):
    """Static index pruning (Carmel 2001 top-N): serve BM25 over the pruned
    postings with FULL build stats — the small first tier of a tiered
    serving deployment (operators/postings.py::prune_postings)."""
    from defactonlp_spark.operators.bm25 import claim_terms, score_exhaustive
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    stats = term_stats(p)
    pruned = _pruned_postings_cached(spark, sf_dir)
    res = score_exhaustive(
        pruned, stats, claim_terms(_claims_df(spark)), n_docs, avgdl, k=TOPK
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_bm25_topk_boosted(spark, sf_dir):
    """Static doc-prior boosting: BM25 * (0.5 + quality score) — the
    query-independent ranking signal of web search (PageRank/quality prior),
    joined doc-keyed, never broadcast (operators/bm25.py::score_boosted)."""
    from defactonlp_spark.functions.textstats import quality_features
    from defactonlp_spark.operators.bm25 import claim_terms, score_boosted
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    boosts = quality_features(_docs(spark, sf_dir)).select(
        "doc_id", F.round(F.lit(0.5) + F.col("quality"), 6).alias("boost")
    )
    res = score_boosted(
        p, term_stats(p), claim_terms(_claims_df(spark)), n_docs, avgdl, boosts, k=TOPK
    )
    return res.select(
        "claim_id", "doc_id", F.round("bm25", 4).alias("bm25"),
        F.round("score", 4).alias("score"),
    )


def q_sq8_cosine_topk(spark, sf_dir):
    """Quantized-cosine top-k over SQ8 int8 codes (Faiss scalar-quantizer
    analog; operators/similarity.py::sq8_encode/sq8_cosine_topk). Scales
    cancel in cosine, so the score is a ratio of exact int64 sums — an
    approximate (4x-smaller) vector tier with an EXACT DuckDB oracle."""
    from defactonlp_spark.operators.similarity import sq8_cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return sq8_cosine_topk(emb, [0, 1, 2, 3, 4], k=10).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "cos",
    )



FUZZY_CLAIMS = [
    (0, "qery vektor tble"),   # all three terms one edit from the dictionary
    (1, "scann filtr"),
    (2, "jion hassh"),         # jion is 2 edits from join -> stays unexpanded
    (3, "data merge"),         # exact terms: dist-0 leaders, weight 1.0
]
FUZZY_DIST, FUZZY_EXP = 1, 3


def q_bm25_topk_fuzzy(spark, sf_dir):
    """Fuzzy retrieval (Lucene FuzzyQuery analog): query terms expand to
    dictionary terms within Levenshtein distance 1 (banded broadcast
    theta-join on the Heaps-bounded dictionary), weight 1/(1+dist),
    max-wins combine, weighted BM25 (operators/expansion.py::expand_fuzzy)."""
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.expansion import expand_fuzzy, score_weighted
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    stats = term_stats(p)
    claims = spark.createDataFrame(FUZZY_CLAIMS, "claim_id long, claim string")
    w = expand_fuzzy(stats, claim_terms(claims), FUZZY_DIST, FUZZY_EXP)
    res = score_weighted(p, stats, w, n_docs, avgdl, k=TOPK, rank_dp=6)
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


PACK_SEQ_LEN = 512


def q_packed_sequences(spark, sf_dir):
    """LLM training-sequence packing (concat-then-chunk layout): per doc the
    (seq_id, seq_offset) where it starts, via the two-phase distributed
    prefix sum in md5(id) order (operators/curation.py::pack_sequences).
    The DuckDB twin is the single-window definition — the oracle checks
    the distributed decomposition exactly, like training_mix_stats."""
    from defactonlp_spark.operators.curation import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=PACK_SEQ_LEN).select(
        "doc_id", "n_tokens", "seq_id", "seq_offset"
    )


PASSAGE_W, PASSAGE_SCOPE_K = 16, 3


def q_best_passage(spark, sf_dir):
    """Best-passage selection (Lucene Highlighter shape): for each claim's
    BM25 top-3 docs, the 16-token window covering the most distinct query
    terms (ties: more hits, then earliest start) — the proximity anchor
    trick reused for scoring (operators/phrase.py::best_passage)."""
    from defactonlp_spark.operators.bm25 import claim_terms, score_exhaustive
    from defactonlp_spark.operators.phrase import best_passage
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    qt = claim_terms(_claims_df(spark))
    scope = score_exhaustive(
        p, term_stats(p), qt, n_docs, avgdl, k=PASSAGE_SCOPE_K
    ).select("claim_id", "doc_id")
    res = best_passage(_tokens_cached(spark, sf_dir), qt, scope, window=PASSAGE_W)
    return res.select(
        "claim_id", "doc_id",
        F.col("start_pos").cast("long").alias("start_pos"),
        F.col("n_terms").cast("long").alias("n_terms"),
        "n_hits",
    )


def q_dedup_method_eval(spark, sf_dir):
    """Dedup-method QA (operators/dedup.py::pair_eval): precision/recall/F1
    of the banded MinHash-LSH candidates and the SimHash Hamming<=2 pairs
    against exact n-gram Jaccard >= 0.2 as truth — the sample-tier
    evaluation a production dedup pipeline runs before trusting an
    approximate method at full scale."""
    from defactonlp_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signature,
        ngram_jaccard_pairs,
        pair_eval,
        simhash,
        simhash_dup_pairs,
    )

    docs = _docs(spark, sf_dir)
    truth = ngram_jaccard_pairs(docs, threshold=0.2, n=3).persist()
    lsh = minhash_lsh_pairs(signatures=minhash_signature(docs).persist())
    sh = simhash_dup_pairs(signatures=simhash(docs).persist(), max_hamming=2)
    out = (
        pair_eval(lsh, truth).withColumn("method", F.lit("minhash_lsh"))
        .unionByName(pair_eval(sh, truth).withColumn("method", F.lit("simhash_h2")))
    )
    return out.select("method", "n_pred", "n_truth", "tp", "precision", "recall", "f1")


BM25F_LEAD_N = 20


def q_bm25f_topk(spark, sf_dir):
    """Simple BM25F (Zaragoza 2004; Lucene/ES field boosting): lead field
    (first 20 tokens, the title proxy) weighted 2x over body, per-field
    length norms, any-field df (operators/bm25f.py)."""
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.bm25f import score_bm25f

    # session-shared field relation (split once from the tokens fixture)
    res = score_bm25f(_fields_cached(spark, sf_dir), claim_terms(_claims_df(spark)), k=TOPK)
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_combined_fields_topk(spark, sf_dir):
    """ES combined_fields / Lucene CombinedFieldQuery (bm25f.py::
    score_combined_fields): TERM-centric multi-field BM25 — the doc scored
    as if lead (2x) and body were one merged field (tf and dl both
    weight-merged), one shared b/k1. Same fixture split as bm25f_topk so
    the two multi-field semantics are directly comparable in the record."""
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.bm25f import score_combined_fields

    res = score_combined_fields(
        _fields_cached(spark, sf_dir), claim_terms(_claims_df(spark)), k=TOPK
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


# match_phrase_prefix fixture: multi-expansion prefix ('s' -> small/scan/
# slow/sort/stream/spark... capped at 4), single-expansion ('sc', 'da'),
# pure-prefix single token ('qu'), empty expansion (MatchNoDocs), and a
# repeated fixed term ahead of the prefix
PHRASE_PREFIX_CLAIMS = [
    (0, "hash s"),
    (1, "table sc"),
    (2, "qu"),
    (3, "big da"),
    (4, "merge zz"),
    (5, "a a s"),
]
PHRASE_PREFIX_MAX_EXP = 4


def q_phrase_prefix_topk(spark, sf_dir):
    """ES match_phrase_prefix (phrase.py::score_phrase_prefix): the last
    token expands as a dictionary prefix (df desc, term asc, cap 4 — the
    top-terms rewrite), a doc matches iff the fixed terms + ANY expansion
    occur consecutively (multi-phrase anchor count vs the TRUE phrase
    length), scored as the BM25 disjunction over the expanded distinct
    term set restricted to matching docs."""
    from defactonlp_spark.operators.phrase import score_phrase_prefix
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    phrases = spark.createDataFrame(
        PHRASE_PREFIX_CLAIMS, "claim_id long, phrase string"
    )
    res = score_phrase_prefix(
        p, term_stats(p), _tokens_cached(spark, sf_dir), phrases, n_docs, avgdl,
        k=TOPK, max_expansions=PHRASE_PREFIX_MAX_EXP,
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


KNN_FILTER_LABEL = 1
KNN_QUERY_IDS = [0, 1, 2, 3, 4]


def q_knn_filtered(spark, sf_dir):
    """PRE-filtered exact knn (similarity.py::cosine_topk_filtered) — the
    ES knn-query filter clause: candidates restricted to label=1 BEFORE
    the search, so every query still gets a full k even though the filter
    keeps ~1/3 of the corpus; query vectors come from the unfiltered set."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    allowed = emb.filter(F.col("label") == KNN_FILTER_LABEL).select("vec_id")
    from defactonlp_spark.operators.similarity import cosine_topk_filtered

    return cosine_topk_filtered(emb, allowed, query_ids=KNN_QUERY_IDS, k=10)


COMPOSITE_PAGE = 5


def q_composite_page2(spark, sf_dir):
    """ES composite aggregation, page 2 (analytics.py::composite_agg):
    buckets of documents by (source, lang) in key order, 5 per page; the
    after-key is page 1's last bucket, applied to the INPUT rows (exact
    for group keys) so it reaches the scan as a pushed filter. Oracle =
    the bucket-rank slice [6, 10] — after-key paging must equal it."""
    from defactonlp_spark.operators.analytics import composite_agg

    docs = _docs(spark, sf_dir)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("doc_count"),
        F.sum("n_chars").cast("long").alias("chars_sum"),
    ]
    page1 = composite_agg(docs, ["source", "lang"], aggs, size=COMPOSITE_PAGE)
    last = page1.collect()[-1]  # page-sized driver read: the after cursor
    return composite_agg(
        docs, ["source", "lang"], aggs, size=COMPOSITE_PAGE,
        after=(last["source"], last["lang"]),
    )


def q_terms_set_topk(spark, sf_dir):
    """ES terms_set query (bm25.py::score_terms_set): per-doc
    minimum_should_match read from a doc field — here required =
    doc_id % 3 + 1, a deterministic stand-in for the
    minimum_should_match_field column; docs match iff they contain at
    least their own required count of the claim's terms, scored by the
    standard BM25 sum over matched terms."""
    from defactonlp_spark.operators.bm25 import claim_terms, score_terms_set
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    thresholds = _docs(spark, sf_dir).select(
        "doc_id", (F.col("doc_id") % 3 + 1).cast("int").alias("required")
    )
    res = score_terms_set(
        p, term_stats(p), claim_terms(_claims_df(spark)), n_docs, avgdl,
        thresholds, k=TOPK,
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


MM_TIE_BREAKER = 0.3


def q_multi_match_best_fields(spark, sf_dir):
    """ES multi_match, default best_fields mode (bm25f.py::
    score_multi_match_best_fields): each field scored as its OWN BM25
    index (per-field df/N/avgdl), per-doc dis_max combine with
    tie_breaker 0.3 and lead boosted 2x — the third multi-field semantics
    over the same field relation (vs BM25F and combined_fields)."""
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.bm25f import score_multi_match_best_fields

    res = score_multi_match_best_fields(
        _fields_cached(spark, sf_dir), claim_terms(_claims_df(spark)),
        k=TOPK, tie_breaker=MM_TIE_BREAKER,
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


N_FRAGMENTS = 2


def q_top_fragments(spark, sf_dir):
    """Multi-fragment highlighting (ES unified highlighter
    number_of_fragments=2; phrase.py::top_fragments): for each claim's
    BM25 top-3 docs, the 2 best NON-OVERLAPPING 16-token passages by
    greedy selection (distinct terms desc, hits desc, earliest start) —
    frag 1 is exactly best_passage; frag 2 is the best window at least a
    window-width away."""
    from defactonlp_spark.operators.bm25 import claim_terms, score_exhaustive
    from defactonlp_spark.operators.phrase import top_fragments
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    qt = claim_terms(_claims_df(spark))
    scope = score_exhaustive(
        p, term_stats(p), qt, n_docs, avgdl, k=PASSAGE_SCOPE_K
    ).select("claim_id", "doc_id")
    res = top_fragments(
        _tokens_cached(spark, sf_dir), qt, scope,
        window=PASSAGE_W, n_fragments=N_FRAGMENTS,
    )
    return res.select(
        "claim_id", "doc_id", "frag",
        F.col("start_pos").cast("long").alias("start_pos"),
        F.col("n_terms").cast("long").alias("n_terms"),
        "n_hits",
    )


def q_cardinality_by_type(spark, sf_dir):
    """ES cardinality agg, exact tier (analytics.py::cardinality_agg):
    distinct users per event type via the two-phase dedup-then-count —
    the re-aggregable shape that survives 10^12 rows (no per-group hash
    set of the whole value domain). The HLL tier is pytest-bounded
    against this one (sketch estimates aren't cross-engine twinnable)."""
    from defactonlp_spark.operators.analytics import cardinality_agg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cardinality_agg(ev, ["event_type"], "user_id")


def q_bm25_topk_page2(spark, sf_dir):
    """search_after pagination (ES/Lucene deep-paging contract): page 2 via
    per-claim cursors — the (round(score,6), doc_id) of page 1's last row —
    filtered BEFORE the top-k window, so page N costs the same scan as
    page 1 (operators/bm25.py::score_page_after). The oracle is the rank
    slice [k+1, 2k] with the same order key: cursor paging must equal it."""
    from defactonlp_spark.operators.bm25 import (
        claim_terms,
        score_exhaustive,
        score_page_after,
    )
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    stats = term_stats(p)
    qt = claim_terms(_claims_df(spark))
    page1 = score_exhaustive(p, stats, qt, n_docs, avgdl, k=TOPK, rank_dp=6)
    cursors = page1.filter(F.col("rank") == TOPK).select(
        "claim_id",
        F.round("score", 6).alias("after_score"),
        F.col("doc_id").alias("after_doc"),
    )
    page2 = score_page_after(p, stats, qt, n_docs, avgdl, cursors, k=TOPK)
    return page2.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


SIGTERMS_FG_K = 20


def q_significant_terms(spark, sf_dir):
    """ES significant_terms (JLH) over each claim's BM25 top-20 sampler
    set, query terms excluded — "what the result set is about beyond the
    query" (operators/analytics.py::significant_terms)."""
    from defactonlp_spark.operators.analytics import significant_terms
    from defactonlp_spark.operators.bm25 import claim_terms, score_exhaustive
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    stats = term_stats(p)
    qt = claim_terms(_claims_df(spark))
    fg = score_exhaustive(p, stats, qt, n_docs, avgdl, k=SIGTERMS_FG_K, rank_dp=6).select(
        "claim_id", "doc_id"
    )
    res = significant_terms(p, stats, fg, n_docs, k=10, min_fg_count=2, exclude=qt)
    return res.select(
        "claim_id",
        F.col("rank").cast("long").alias("rank"),
        "term", "fg_count", "bg_count", "jlh",
    )


def q_value_histogram(spark, sf_dir):
    """ES histogram aggregation: fixed-width bins per event_type over the
    events value column (operators/analytics.py::value_histogram)."""
    from defactonlp_spark.operators.analytics import value_histogram

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return value_histogram(ev, width=25.0, group_col="event_type")


def q_bm25_topk_fuzzy_symspell(spark, sf_dir):
    """The SymSpell deletion-neighborhood plan for the same fuzzy query —
    an equi-join on deletion keys instead of the banded levenshtein
    theta-join (operators/expansion.py::expand_fuzzy_symspell). Shares
    bm25_topk_fuzzy's oracle SQL: the driver gate checks the two plans
    produce identical rankings (the wand-shares-B6 pattern)."""
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.expansion import (
        expand_fuzzy_symspell,
        score_weighted,
    )
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    stats = term_stats(p)
    claims = spark.createDataFrame(FUZZY_CLAIMS, "claim_id long, claim string")
    w = expand_fuzzy_symspell(stats, claim_terms(claims), FUZZY_EXP)
    res = score_weighted(p, stats, w, n_docs, avgdl, k=TOPK, rank_dp=6)
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


CLARITY_FB_DOCS, CLARITY_FB_TERMS = 5, 10


def q_query_clarity(spark, sf_dir):
    """Query clarity (Cronen-Townsend 2002 query-performance prediction):
    KL divergence in bits between the query's relevance-model LM (RM over
    the BM25 top-5, top-10 terms) and the collection unigram model
    (operators/expansion.py::clarity_score)."""
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.expansion import clarity_score
    from defactonlp_spark.operators.lm import ctf_stats
    from defactonlp_spark.operators.postings import corpus_stats, term_stats

    p = _postings_cached(spark, sf_dir)
    cs = corpus_stats(p).collect()[0]
    n_docs, avgdl, total = int(cs["n_docs"]), float(cs["avgdl"]), int(cs["total_tokens"])
    return clarity_score(
        p, term_stats(p), ctf_stats(p), claim_terms(_claims_df(spark)),
        n_docs, avgdl, total, fb_docs=CLARITY_FB_DOCS, fb_terms=CLARITY_FB_TERMS,
    )


RBO_K, RBO_P = 10, 0.9


def q_pruned_rbo(spark, sf_dir):
    """Rank-biased overlap (Webber 2010) between the FULL BM25 top-10 and
    the statically PRUNED index's top-10 per claim — the QA number that
    says how much ranking damage top-N pruning caused
    (operators/analytics.py::ranking_rbo). Depth weights are shared
    literal doubles in both engines."""
    from defactonlp_spark.operators.analytics import ranking_rbo
    from defactonlp_spark.operators.bm25 import claim_terms, score_exhaustive
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    stats = term_stats(p)
    qt = claim_terms(_claims_df(spark))
    full = score_exhaustive(p, stats, qt, n_docs, avgdl, k=RBO_K, rank_dp=6)
    pruned_p = _pruned_postings_cached(spark, sf_dir)
    pruned = score_exhaustive(pruned_p, stats, qt, n_docs, avgdl, k=RBO_K, rank_dp=6)
    return ranking_rbo(full, pruned, k=RBO_K, p=RBO_P)


DUPSPAN_L = 8


def q_dup_spans(spark, sf_dir):
    """Exact repeated-substring spans (Lee et al. 2022 dedup shape): every
    maximal token span whose every 8-gram occurs >= 2 times in the corpus —
    rolling-gram occurrence counts + per-doc gap-merge
    (operators/dedup.py::dup_spans)."""
    from defactonlp_spark.operators.dedup import dup_spans

    return dup_spans(_docs(spark, sf_dir), gram_len=DUPSPAN_L)


PERC_RULES = [
    (0, "hash join"),
    (1, "window stream batch"),
    (2, "customer order"),
    (3, "vector zzznever"),
]


def q_percolate_matches(spark, sf_dir):
    """Reverse search (ES percolator): which corpus docs match which stored
    alert rules — conjunctive term matching, rule terms broadcast onto one
    postings scan (operators/bm25.py::percolate)."""
    from defactonlp_spark.operators.bm25 import percolate

    rules = spark.createDataFrame(PERC_RULES, "query_id long, query string")
    return percolate(_postings_cached(spark, sf_dir), rules)


# bool-query percolator fixture: (query_id, clause_id, occur, kind, text) —
# exercises conjunctive must + must_not veto, disjunctive should-only
# (terms OR phrase), phrase-must, a no-match phrase, and must with
# optional shoulds (the ES minimum_should_match=0-when-must-present rule)
PERC2_RULES = [
    (0, 0, "must", "terms", "hash join"),
    (0, 1, "must_not", "terms", "customer"),
    (1, 0, "should", "terms", "window stream"),
    (1, 1, "should", "phrase", "merge join"),
    (2, 0, "must", "phrase", "customer order"),
    (3, 0, "should", "phrase", "vector zzznever"),
    (4, 0, "must", "terms", "batch"),
    (4, 1, "should", "terms", "stream"),
    (4, 2, "should", "terms", "window"),
]


def q_percolate_matches_v2(spark, sf_dir):
    """Percolator with the ES bool-query surface (VERDICT r3 #7,
    operators/bm25.py::percolate_v2): stored queries as must/should/must_not
    clause sets mixing conjunctive term clauses and exact-phrase clauses
    (the anchor trick over the positional tokens relation — no UDF, no
    positional self-join)."""
    from defactonlp_spark.operators.bm25 import percolate_v2

    rules = spark.createDataFrame(
        PERC2_RULES,
        "query_id long, clause_id long, occur string, kind string, text string",
    )
    res = percolate_v2(
        _postings_cached(spark, sf_dir),
        rules,
        tokens=_tokens_cached(spark, sf_dir),
    )
    return res.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("query_id").cast("long").alias("query_id"),
        "n_must_matched", "n_should_matched",
    )


LTR_K, LTR_MU = 10, 2000.0


def q_ltr_features(spark, sf_dir):
    """LTR feature logging (ES LTR / feature-store shape): per claim the
    BM25 top-10 candidates with (bm25, lm_qlh, n_matched, dl, quality)
    features — the retrieval-to-training bridge
    (operators/ltr.py::ltr_features)."""
    from defactonlp_spark.functions.textstats import quality_features
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.lm import ctf_stats
    from defactonlp_spark.operators.ltr import ltr_features
    from defactonlp_spark.operators.postings import corpus_stats, term_stats

    p = _postings_cached(spark, sf_dir)
    cs = corpus_stats(p).collect()[0]
    n_docs, avgdl, total = int(cs["n_docs"]), float(cs["avgdl"]), int(cs["total_tokens"])
    qual = quality_features(_docs(spark, sf_dir)).select("doc_id", "quality")
    res = ltr_features(
        p, term_stats(p), ctf_stats(p), claim_terms(_claims_df(spark)), qual,
        n_docs, avgdl, total, k=LTR_K, mu=LTR_MU,
    )
    return res.select(
        "claim_id", F.col("rank").cast("long").alias("rank"), "doc_id",
        F.round("bm25", 4).alias("bm25"), F.round("lm_qlh", 4).alias("lm_qlh"),
        "n_matched", "dl", "quality",
    )


def q_lm_dirichlet_indexed(spark, sf_dir):
    """LM Dirichlet over COMPRESSED SEGMENTS (plans/query.py::
    query_lm_dirichlet's decode path: term-pruned segment scan -> varbyte
    decode -> LM scoring with dictionary ctf) — shares lm_dirichlet_topk's
    oracle SQL, so the driver gate checks decode-path parity the same way
    bm25_topk_wand shares B6's twin."""
    from defactonlp_spark.config import EngineConfig
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.lm import score_lm_dirichlet
    from defactonlp_spark.operators.postings import corpus_stats, term_stats
    from defactonlp_spark.operators.segments import encode_segments
    from defactonlp_spark.plans.query import decode_segments

    cfg = EngineConfig(n_buckets=8)
    p = _postings_cached(spark, sf_dir)
    cs = corpus_stats(p).collect()[0]
    n_docs, avgdl, total = int(cs["n_docs"]), float(cs["avgdl"]), int(cs["total_tokens"])
    stats = term_stats(p)
    seg = encode_segments(p, stats, n_docs, avgdl, cfg, 8)
    q = claim_terms(_claims_df(spark))
    terms = [r["term"] for r in q.select("term").distinct().collect()]
    decoded = decode_segments(seg.filter(F.col("term").isin(terms)))
    res = score_lm_dirichlet(
        decoded, stats.select("term", "ctf"), q, total, mu=LM_MU, k=TOPK
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


RM3_FB_DOCS, RM3_FB_TERMS, RM3_ALPHA = 5, 8, 0.5
# synonym dictionary fixture: (term, variant) — variants are corpus terms
SYNONYMS = [
    ("merge", "join"),
    ("batch", "stream"),
    ("customer", "supplier"),
    ("vector", "column"),
]
SYN_WEIGHT = 0.5


def q_bm25_topk_synonyms(spark, sf_dir):
    """Query-time synonym expansion (operators/expansion.py::
    expand_synonyms + score_weighted): variants score at weight 0.5,
    originals at 1.0, max wins on overlap."""
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.expansion import expand_synonyms, score_weighted
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    syns = spark.createDataFrame(SYNONYMS, "term string, variant string")
    w = expand_synonyms(claim_terms(_claims_df(spark)), syns, syn_weight=SYN_WEIGHT)
    res = score_weighted(p, term_stats(p), w, n_docs, avgdl, k=TOPK, rank_dp=6)
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_bm25_topk_rm3(spark, sf_dir):
    """RM3 pseudo-relevance-feedback retrieval (operators/expansion.py):
    BM25 first pass -> relevance model over the fb docs' vectors -> top
    fb_terms expansion -> interpolated weighted second pass. rank_dp=6
    pins mathematically-tied docs to the doc_id tie-break in both engines."""
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.expansion import rm3_topk
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    res = rm3_topk(
        p, term_stats(p), claim_terms(_claims_df(spark)), n_docs, avgdl,
        k=TOPK, fb_docs=RM3_FB_DOCS, fb_terms=RM3_FB_TERMS, alpha=RM3_ALPHA,
        rank_dp=6,
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_bm25_topk_boolean(spark, sf_dir):
    """Boolean must/should/must_not retrieval — the Lucene BooleanQuery
    analog (operators/bm25.py::score_boolean; the index path is
    plans/query.py::query_boolean over pruned decoded segments)."""
    from defactonlp_spark.operators.bm25 import boolean_terms, score_boolean
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    bq = spark.createDataFrame(
        BOOL_QUERIES, "claim_id long, must string, should string, must_not string"
    )
    res = score_boolean(p, term_stats(p), boolean_terms(bq), n_docs, avgdl, k=TOPK)
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_bm25_topk_msm(spark, sf_dir):
    """Boolean retrieval with minimum_should_match=2 (the Lucene
    setMinimumNumberShouldMatch / ES minimum_should_match parameter;
    operators/bm25.py::score_boolean msm branch). Claim 3 has no should
    clauses -> unmatchable; claim 2's two should clauses become an AND."""
    from defactonlp_spark.operators.bm25 import boolean_terms, score_boolean
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    bq = spark.createDataFrame(
        MSM_QUERIES, "claim_id long, must string, should string, must_not string"
    )
    res = score_boolean(
        p, term_stats(p), boolean_terms(bq), n_docs, avgdl, k=TOPK,
        min_should_match=MSM,
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_dismax_topk(spark, sf_dir):
    """Disjunction-max retrieval (Lucene DisjunctionMaxQuery / ES dis_max,
    tie_breaker=0.3) over per-term scorers: best single term dominates,
    the other matched terms contribute at 0.3x
    (operators/bm25.py::score_dismax — max and sum ride one hash agg)."""
    from defactonlp_spark.operators.bm25 import claim_terms, score_dismax
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    res = score_dismax(
        p, term_stats(p), claim_terms(_claims_df(spark)), n_docs, avgdl,
        k=TOPK, tie_breaker=DISMAX_TIE_BREAKER,
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_bm25_topk_boosting(spark, sf_dir):
    """The ES boosting query (operators/bm25.py::score_boosting): rank by
    the positive clause's BM25, multiplied by negative_boost=0.5 when the
    doc also matches the negative clause — demotion, not exclusion."""
    from defactonlp_spark.operators.bm25 import boolean_terms, score_boosting
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    bq = spark.createDataFrame(
        [(i, pos, neg) for i, pos, neg in BOOSTING_QUERIES],
        "claim_id long, must string, must_not string",
    )
    res = score_boosting(
        p, term_stats(p), boolean_terms(bq), n_docs, avgdl, k=TOPK,
        negative_boost=NEGATIVE_BOOST,
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_bm25_explain(spark, sf_dir):
    """The ES explain=true analog (operators/bm25.py::explain_topk): the
    per-term BM25 breakdown of every top-k hit — one row per matched term
    with tf, idf, contribution, and the hit's total; sum(contrib) over a
    hit's rows == its score. Ranks on round(score,6) so near-ties order
    identically in both engines."""
    from defactonlp_spark.operators.bm25 import claim_terms, explain_topk
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    res = explain_topk(
        p, term_stats(p), claim_terms(_claims_df(spark)), n_docs, avgdl,
        k=TOPK, rank_dp=6,
    )
    return res.select(
        "claim_id",
        "rank",
        "doc_id",
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.round("idf", 6).alias("idf"),
        F.round("contrib", 4).alias("contrib"),
        F.round("score", 4).alias("score"),
    )


def q_facet_top_hits(spark, sf_dir):
    """The ES terms agg + top_hits sub-agg (analytics.py::facet_top_hits):
    per claim and per source value, the 2 best docs among the claim's
    BM25 top-20. Both engines cut the top-20 AND order buckets on
    (round(score,6) DESC, doc_id) so the bucket membership is portable."""
    from defactonlp_spark.operators.analytics import facet_top_hits
    from defactonlp_spark.operators.bm25 import claim_terms, score_exhaustive
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    scored = score_exhaustive(
        p, term_stats(p), claim_terms(_claims_df(spark)), n_docs, avgdl,
        k=TOPHITS_FETCH_K, rank_dp=6,
    ).select("claim_id", "doc_id", F.round("score", 6).alias("score"))
    attrs = _docs(spark, sf_dir).select("doc_id", "source")
    res = facet_top_hits(scored, attrs, "source", n_hits=TOPHITS_N)
    return res.select(
        "claim_id", "source", "hit_rank", "doc_id",
        F.round("score", 4).alias("score"),
    )


# exact-phrase fixture: real fixture bigrams/trigram (checked present at
# sf0.01), a repeated-term phrase, and a no-hit phrase
PHRASE_CLAIMS = [
    (0, "table hash"),
    (1, "part filter"),
    (2, "data spark"),
    (3, "slow key scan"),
    (4, "a a the"),
    (5, "warehouse moonbeam"),
]
_PHRASE_VALUES = "(VALUES " + ", ".join(f"({i}, '{p}')" for i, p in PHRASE_CLAIMS) + ")"

_PHRASE_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, phrase) AS {_PHRASE_VALUES},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(phrase),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
-- adjacency via normalized token strings: tokens are [a-z0-9]+ joined by
-- single spaces with sentinel spaces at both ends, so consecutive-subseq
-- containment IS a LIKE containment (no wildcards can occur in tokens)
docstr AS (
  SELECT doc_id, ' ' || array_to_string(list_filter(regexp_split_to_array(lower(text),
    '[^a-z0-9]+'), t -> t <> ''), ' ') || ' ' AS s FROM documents
),
pnorm AS (
  SELECT claim_id, ' ' || array_to_string(list_filter(regexp_split_to_array(lower(phrase),
    '[^a-z0-9]+'), t -> t <> ''), ' ') || ' ' AS p FROM claims
),
matches AS (
  SELECT pn.claim_id, d.doc_id FROM pnorm pn JOIN docstr d ON d.s LIKE '%' || pn.p || '%'
),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  JOIN matches m ON m.claim_id = q.claim_id AND m.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id ORDER BY score DESC, doc_id) AS rn
      FROM scored)
WHERE rn <= {TOPK}
"""


def q_phrase_topk(spark, sf_dir):
    """Exact phrase retrieval (operators/phrase.py): positional token
    explode -> anchor-trick adjacency (groupBy(claim, doc, pos-idx) count
    == phrase length — pure relational, no UDF) -> BM25 over the phrase's
    terms restricted to matching docs, stored stats. Oracle: LIKE
    containment over normalized token strings + the same restricted BM25."""
    from defactonlp_spark.operators.phrase import score_phrase
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    phrases = spark.createDataFrame(PHRASE_CLAIMS, "claim_id long, phrase string")
    res = score_phrase(
        p, term_stats(p), _tokens_cached(spark, sf_dir), phrases, n_docs, avgdl, k=TOPK
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


_SNIPPET_W = 3
# first-occurrence token index via string search on the normalized token
# string (tokens are [a-z0-9]+ joined by single spaces with sentinel
# spaces): anchor = spaces before the match position, minus the sentinel
_SNIPPET_SQL = f"""
WITH tl AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS t FROM documents
),
docstr AS (SELECT doc_id, t, ' ' || array_to_string(t, ' ') || ' ' AS s FROM tl),
claims(claim_id, phrase) AS {_PHRASE_VALUES},
q AS (
  SELECT claim_id,
         list_filter(regexp_split_to_array(lower(phrase), '[^a-z0-9]+'), x -> x <> '') AS p
  FROM claims
),
hit AS (
  SELECT q.claim_id, d.doc_id, d.t AS toks, d.s, len(q.p) AS plen,
         strpos(d.s, ' ' || array_to_string(q.p, ' ') || ' ') AS b
  FROM q JOIN docstr d ON strpos(d.s, ' ' || array_to_string(q.p, ' ') || ' ') > 0
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id,
       (length(s[1:b]) - length(replace(s[1:b], ' ', '')) - 1)::BIGINT AS anchor,
       array_to_string(
         toks[greatest(1, anchor + 1 - {_SNIPPET_W}) : anchor + plen + {_SNIPPET_W}], ' '
       ) AS snippet
FROM hit
"""


def q_phrase_snippets(spark, sf_dir):
    """KWIC snippets (operators/phrase.py::phrase_snippets): first phrase
    occurrence per matching doc with +-3 tokens of context, rebuilt purely
    from the positional relation (sorted collect over the snippet window —
    no text round-trip, no UDF). Oracle: strpos over normalized token
    strings -> token index arithmetic -> list slice."""
    from defactonlp_spark.operators.phrase import phrase_snippets

    phrases = spark.createDataFrame(PHRASE_CLAIMS, "claim_id long, phrase string")
    res = phrase_snippets(_tokens_cached(spark, sf_dir), phrases, window=_SNIPPET_W)
    return res.select(
        "claim_id", "doc_id", F.col("anchor").cast("long").alias("anchor"), "snippet"
    )


# 's' matches {scan, small, slow, sort, spark, stream} so the df-ordered
# top-5 window is contested and one candidate is CUT; 'c'/'b' hit several;
# zzz hits nothing
SUGGEST_PREFIXES = [("s",), ("c",), ("b",), ("qu",), ("zzz",)]

PROX_W = 6
PROX_CLAIMS = [
    (0, "spark query window"),
    (1, "customer join order"),
    (2, "value stream batch sort"),
    (3, "spark moonbeam"),
]
_PROX_VALUES = "(VALUES " + ", ".join(f"({i}, '{c}')" for i, c in PROX_CLAIMS) + ")"

_PROX_SQL = f"""
WITH tl AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS t FROM documents
),
tokpos AS (
  SELECT doc_id, i AS pos, t[i] AS term FROM tl, unnest(range(1, len(t) + 1)) AS u(i)
),
toks AS (SELECT doc_id, term FROM tokpos),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, claim) AS {_PROX_VALUES},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
mreq AS (SELECT claim_id, count(*)::BIGINT AS m FROM qterms GROUP BY 1),
occ AS (
  SELECT q.claim_id, tk.doc_id, tk.pos, tk.term
  FROM qterms q JOIN tokpos tk USING (term)
),
anch AS (
  SELECT a.claim_id, a.doc_id, a.pos, count(DISTINCT b.term) AS c
  FROM occ a JOIN occ b
    ON b.claim_id = a.claim_id AND b.doc_id = a.doc_id
   AND b.pos BETWEEN a.pos AND a.pos + {PROX_W - 1}
  GROUP BY 1, 2, 3
),
matches AS (
  SELECT DISTINCT a.claim_id, a.doc_id
  FROM anch a JOIN mreq USING (claim_id) WHERE c = m
),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  JOIN matches mt ON mt.claim_id = q.claim_id AND mt.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id ORDER BY score DESC, doc_id) AS rn
      FROM scored)
WHERE rn <= {TOPK}
"""


def q_proximity_topk(spark, sf_dir):
    """Proximity retrieval (operators/phrase.py::score_proximity): docs
    where ALL of a claim's terms co-occur inside one 6-token window, any
    order — the phrase anchor trick generalized to a range self-join
    (count distinct terms per [pos, pos+W-1], fan-out bounded by W).
    Matching docs BM25-ranked with stored stats."""
    from defactonlp_spark.operators.phrase import score_proximity
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    claims = spark.createDataFrame(PROX_CLAIMS, "claim_id long, claim string")
    res = score_proximity(
        p, term_stats(p), _tokens_cached(spark, sf_dir), claims, n_docs, avgdl,
        window=PROX_W, k=TOPK,
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_term_suggest(spark, sf_dir):
    """Search-box suggester (operators/postings.py::suggest_terms): top-5
    dictionary terms by df per prefix — broadcast theta-join on the
    Heaps-bounded term dictionary + windowed top-k."""
    from defactonlp_spark.operators.postings import suggest_terms, term_stats

    p = _postings_cached(spark, sf_dir)
    prefixes = spark.createDataFrame(SUGGEST_PREFIXES, "prefix string")
    res = suggest_terms(term_stats(p), prefixes, k=5)
    return res.select(
        "prefix", F.col("rank").cast("long").alias("rank"), "term",
        F.col("df").cast("long").alias("df"),
    )


def q_bm25_topk_filtered(spark, sf_dir):
    """Filtered retrieval (plans/query.py::query_filtered — the Lucene
    filter-query analog): exact top-k among docs passing a metadata
    predicate (lang = 'en'), scored with the STORED full-corpus stats —
    corpus statistics don't change because a query filters. The allowed
    set joins distributively (left-semi), never rides a closure. Oracle:
    BM25 SQL with full stats, scoring restricted to the predicate's docs."""
    from defactonlp_spark.operators.bm25 import claim_terms, score_exhaustive
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    allowed = _docs(spark, sf_dir).filter(F.col("lang") == "en").select("doc_id")
    res = score_exhaustive(
        p.join(allowed, "doc_id", "left_semi"), term_stats(p),
        claim_terms(_claims_df(spark)), n_docs, avgdl, k=TOPK,
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_bm25_topk_merged(spark, sf_dir):
    """Generation merge (operator B5) under the driver's oracle gate: the
    corpus postings are split into two doc-disjoint GENERATIONS (doc_id
    parity), each encoded as its own segment table with per-generation
    term stats (exactly what incremental builds produce — salts and dfs
    disagree across halves), then compacted by merge_segments with the
    full-corpus stats and WAND-queried. Oracle: the same BM25 SQL as
    bm25_topk — compaction must be invisible in results."""
    from defactonlp_spark.config import EngineConfig
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.postings import term_stats
    from defactonlp_spark.operators.segments import encode_segments, merge_segments
    from defactonlp_spark.operators.wand import wand_topk

    cfg = EngineConfig(n_buckets=8)
    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)

    def gen(half):
        return encode_segments(half, term_stats(half), n_docs, avgdl, cfg, 8)

    union = gen(p.filter(F.col("doc_id") % 2 == 0)).unionByName(
        gen(p.filter(F.col("doc_id") % 2 == 1))
    )
    seg = merge_segments(union, n_docs, avgdl, cfg)
    res = wand_topk(seg, claim_terms(_claims_df(spark)), n_docs, avgdl, k=TOPK, cfg=cfg)
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_bm25_topk_wand_deletes(spark, sf_dir):
    """Live-docs serving over tombstones (plans/build.py::delete_docs,
    IndexReader.deletes_array): docs with doc_id % 5 == 0 are deleted, and
    the WAND kernels mask them at block-decode time while df / N / avgdl
    stay STORED (pre-compaction Lucene semantics; merge_builds compacts
    them physically). Oracle: same BM25 SQL with full-corpus stats, scored
    rows restricted to surviving docs."""
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.wand import wand_topk

    seg, n_docs, avgdl, cfg = _segments_cached(spark, sf_dir)
    # serving-sized tombstone set by contract (config.max_serving_deletes)
    dead = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id")
        .toPandas()["doc_id"]
        .to_numpy(dtype="int64")
    )
    dead.sort()
    res = wand_topk(
        seg, claim_terms(_claims_df(spark)), n_docs, avgdl, k=TOPK, cfg=cfg,
        deletes=dead,
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_tpch_q1(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


def q_top_customers_by_segment(spark, sf_dir):
    from pyspark.sql import Window

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    spend = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spend"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("total_spend"), F.asc("c_custkey"))
    return (
        spend.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("c_mktsegment", "rnk", F.col("c_custkey").cast("long").alias("c_custkey"), "total_spend")
    )


def q_events_hourly(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).cast("string").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.sum("k").cast("long").alias("sum_k"),
        )
    )


def q_orders_running_total(spark, sf_dir):
    from pyspark.sql import Window

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


def q_revenue_rollup(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def q_dedup_exact(spark, sf_dir):
    from defactonlp_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir)).select(
        "text_md5", F.col("rep_id").cast("long").alias("rep_id"), "n_dups"
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    from defactonlp_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.2, n=3).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "shared",
        "jaccard",
    )


def q_dedup_ngram_jaccard_capped(spark, sf_dir):
    """The SCALE path of ngram Jaccard, oracle-checked: shingles with
    df > max_df are dropped before the self-join (bounded join fan-out —
    the production skew guard), sizes stay exact, so reported jaccard is a
    lower bound. max_df=2 bites at sf0.01 (max shingle df there is 7):
    22 rows vs the exact entry's 25 — the driver verifies the CAPPED
    semantics, not just the baseline (VERDICT r2 next-round #6)."""
    from defactonlp_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.1, n=3, max_df=2
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "shared",
        "jaccard",
    )


def q_dedup_clusters(spark, sf_dir):
    """Duplicate-CLUSTER resolution — the step after every pair generator:
    near-dup similarity is not transitive, the drop decision must be. Spark
    side: alternating large-star/small-star connected components (Kiveris
    2014, O(log^2 n) shuffle rounds regardless of chain length) over the
    exact jaccard pairs, then the keep-min-id rule over the full corpus.
    Oracle: DuckDB recursive-CTE transitive closure (min reachable id) —
    exponential-ish at scale but exact at oracle size."""
    from defactonlp_spark.operators.dedup import (
        duplicate_clusters,
        ngram_jaccard_pairs,
    )

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, threshold=0.2, n=3)
    return duplicate_clusters(docs, pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component_id").cast("long").alias("component_id"),
        "keep",
    )


#: training-mix budgets (tokens per source) — shared by the Spark query and
#: the DuckDB twin so the two sides cannot drift. Even sources budgeted
#: (two tiers, both chosen to BITE at sf0.01: ~25 docs x ~25 tokens =~ 600
#: available per source), odd sources unbudgeted -> keep nothing.
MIX_BUDGETS = {f"src{i}": (300 if i % 4 == 0 else 120) for i in range(0, 20, 2)}


def q_training_mix_stats(spark, sf_dir):
    """Deterministic per-source token-budget sampling (LLM dataset mixing).
    Spark side runs the two-phase distributed prefix sum (bucketed windows +
    broadcast bucket offsets); the DuckDB twin is the single-window
    definition — the oracle checks the two-phase decomposition exactly."""
    from defactonlp_spark.operators.curation import mix_stats

    return mix_stats(_docs(spark, sf_dir), MIX_BUDGETS)


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: training docs sharing any 3-gram with the
    'eval set' (deterministically: every 97th doc id). Broadcast semi-join
    of eval shingles onto one corpus shingle explode."""
    from defactonlp_spark.operators.dedup import decontaminate

    docs = _docs(spark, sf_dir)
    ev = docs.filter((F.col("doc_id") % 97) == 0)
    return decontaminate(docs, ev, n=3).select(
        F.col("doc_id").cast("long").alias("doc_id"), "n_hits", "contaminated"
    )


def q_training_pipeline_stats(spark, sf_dir):
    """THE end-to-end training-set preparation funnel
    (plans/curate.py::prepare_training_set): Gopher/C4 gates -> minhash-LSH
    near-dup clusters (keep-min) -> benchmark decontamination -> per-source
    token-budget mix, each stage over the previous stage's survivors. The
    twin composes the four stages' own oracle fragments with the same
    survivor filtering — the COMPOSITION is driver-checked, not just the
    stages."""
    from defactonlp_spark.plans.curate import training_set_stats

    docs = _docs(spark, sf_dir)
    ev = docs.filter((F.col("doc_id") % 97) == 0).select("doc_id", "text")
    return training_set_stats(docs, MIX_BUDGETS, eval_docs=ev)


def q_minhash_signatures(spark, sf_dir):
    from defactonlp_spark.operators.dedup import minhash_signature

    return minhash_signature(_docs(spark, sf_dir)).withColumnRenamed("id", "doc_id")


def q_minhash_lsh_pairs(spark, sf_dir):
    """Signatures are computed once and persisted (the real pipeline keeps
    them as a table) — the self-join's two branches then reuse one
    materialization instead of re-running the shingle aggregation."""
    from defactonlp_spark.operators.dedup import minhash_lsh_pairs, minhash_signature

    sig = minhash_signature(_docs(spark, sf_dir)).persist()
    return minhash_lsh_pairs(signatures=sig).select(
        F.col("id_a").cast("long").alias("id_a"), F.col("id_b").cast("long").alias("id_b")
    )


def q_simhash(spark, sf_dir):
    from defactonlp_spark.operators.dedup import simhash

    return simhash(_docs(spark, sf_dir)).withColumnRenamed("id", "doc_id")


def q_cosine_topk(spark, sf_dir):
    from defactonlp_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk(emb, [0, 1, 2, 3, 4], k=10).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "cos",
    )


MMR_QIDS, MMR_K, MMR_LAM, MMR_FETCH = [0, 1, 2, 3, 4], 5, 0.6, 15


def q_mmr_topk(spark, sf_dir):
    """MMR diversified top-k. The greedy feedback loop IS oracle-checked:
    the DuckDB twin unrolls the k selection steps into k CTEs over the same
    6-dp-rounded cos/sim inputs, so both engines run identical IEEE
    arithmetic per step (see operators/similarity.py::mmr_topk)."""
    from defactonlp_spark.operators.similarity import mmr_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return mmr_topk(
        emb, MMR_QIDS, k=MMR_K, lam=MMR_LAM, fetch_k=MMR_FETCH
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "mmr",
    )


def _mmr_sql(qids, k, lam, fetch_k) -> str:
    """Unrolled-greedy MMR twin: sel1 = pure relevance; step i joins the
    candidates against the union of prior selections for the max-sim
    penalty, excludes already-picked ids, and argmaxes (mmr DESC, vec_id)."""
    one_minus = 1.0 - lam
    cos_of = (
        "round(list_dot_product({a}.embedding::DOUBLE[], {b}.embedding::DOUBLE[])"
        " / (sqrt(list_dot_product({a}.embedding::DOUBLE[], {a}.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product({b}.embedding::DOUBLE[], {b}.embedding::DOUBLE[]))), 6)"
    )
    steps = []
    for i in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT query_id, vec_id FROM sel{j}" for j in range(1, i)
        )
        steps.append(f""",
            prev{i} AS ({prev}),
            scored{i} AS (
              SELECT c.query_id, c.vec_id, c.cos, max(p.sim) AS msim
              FROM cand c
              JOIN prev{i} s ON s.query_id = c.query_id
              JOIN cpair p ON p.query_id = c.query_id
                AND ((p.ca = c.vec_id AND p.cb = s.vec_id) OR (p.cb = c.vec_id AND p.ca = s.vec_id))
              WHERE NOT EXISTS (SELECT 1 FROM prev{i} x
                                WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
              GROUP BY 1, 2, 3
            ),
            sel{i} AS (
              SELECT query_id, {i} AS rank, vec_id, {lam}*cos - {one_minus}*msim AS mmr
              FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY {lam}*cos - {one_minus}*msim DESC, vec_id) AS rn
                    FROM scored{i})
              WHERE rn = 1
            )""")
    union = " UNION ALL ".join(f"SELECT * FROM sel{j}" for j in range(1, k + 1))
    return f"""
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
                       WHERE vec_id IN ({",".join(map(str, qids))})),
            scored0 AS (
              SELECT q.query_id, e.vec_id,
                     round(list_dot_product(q.qvec::DOUBLE[], e.embedding::DOUBLE[])
                           / (sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[]))
                              * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6) AS cos
              FROM q JOIN embeddings e ON e.vec_id <> q.query_id
            ),
            cand AS (
              SELECT query_id, vec_id, cos
              FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, vec_id) AS rn FROM scored0)
              WHERE rn <= {fetch_k}
            ),
            cpair AS (
              SELECT a.query_id, a.vec_id AS ca, b.vec_id AS cb, {cos_of.format(a="ea", b="eb")} AS sim
              FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.vec_id < b.vec_id
              JOIN embeddings ea ON ea.vec_id = a.vec_id
              JOIN embeddings eb ON eb.vec_id = b.vec_id
            ),
            sel1 AS (
              SELECT query_id, 1 AS rank, vec_id, cos AS mmr
              FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, vec_id) AS rn FROM cand)
              WHERE rn = 1
            ){"".join(steps)}
            SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank,
                   vec_id::BIGINT AS vec_id, round(mmr, 6) AS mmr
            FROM ({union})
        """


def q_embedding_dup_pairs(spark, sf_dir):
    from defactonlp_spark.operators.similarity import cosine_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_dup_pairs(emb, threshold=0.35).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "cos",
    )


def q_text_quality(spark, sf_dir):
    from defactonlp_spark.functions.textstats import quality_features

    return quality_features(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    from defactonlp_spark.functions.textstats import lang_id

    return lang_id(_docs(spark, sf_dir))


def _docs_with_pii(spark, sf_dir):
    """documents + a deterministic synthetic PII suffix on every third doc
    (same expression in the DuckDB twin) so the redaction oracle exercises
    real matches, not just the no-op path."""
    d = _docs(spark, sf_dir)
    suffix = F.concat(
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@m"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".com at 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".9 call 555-123-4567"),
    )
    return d.withColumn(
        "text",
        F.concat(F.col("text"), F.when(F.col("doc_id") % 3 == 0, suffix).otherwise(F.lit(""))),
    )


_PII_TEXT_SQL = (
    "(SELECT doc_id, text || CASE WHEN doc_id % 3 = 0 THEN"
    " ' contact user' || doc_id || '@m' || (doc_id % 7) ||"
    " '.com at 10.0.' || (doc_id % 256) || '.9 call 555-123-4567'"
    " ELSE '' END AS text FROM documents) t"
)


def q_pii_redact(spark, sf_dir):
    """PII scrubbing chain (functions/pii.py::redact_pii): email/IPv4/phone
    regexp redaction + per-category counts, all whole-stage codegen."""
    from defactonlp_spark.functions.pii import redact_pii

    return redact_pii(_docs_with_pii(spark, sf_dir))


def _docs_with_url(spark, sf_dir):
    """documents + a deterministic synthetic url column (mirrored verbatim
    in the DuckDB twin) covering scheme/subdomain/port/query variants."""
    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 3 == 0, F.lit("https")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(did % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        F.when(did % 5 == 0, F.lit(".org")).otherwise(F.lit(".example.com")),
        F.when(did % 7 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/p/"), did.cast("string"),
        F.when(did % 4 == 0, F.lit("?q=x")).otherwise(F.lit("")),
    )
    return d.select("doc_id", url.alias("url"))


_URL_TEXT_SQL = """
(SELECT doc_id,
        (CASE WHEN doc_id % 3 = 0 THEN 'https' ELSE 'http' END) || '://'
        || (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
        || source
        || (CASE WHEN doc_id % 5 = 0 THEN '.org' ELSE '.example.com' END)
        || (CASE WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END)
        || '/p/' || doc_id
        || (CASE WHEN doc_id % 4 = 0 THEN '?q=x' ELSE '' END) AS url
 FROM documents)
"""


def q_url_parse(spark, sf_dir):
    """URL feature extraction (functions/urls.py::url_features): scheme,
    host, port, path, query, naive registrable domain, path depth — pure
    regexp codegen in the Java/RE2 shared dialect."""
    from defactonlp_spark.functions.urls import url_features

    return url_features(_docs_with_url(spark, sf_dir)).select(
        "doc_id", "scheme", "host", "port", "path", "query",
        "registrable_domain", "path_depth",
        F.col("is_https").cast("int").alias("is_https"),
    )


def q_domain_rollup(spark, sf_dir):
    """Per-registrable-domain crawl stats (functions/urls.py::domain_rollup):
    page count, distinct hosts, https fraction, mean path depth."""
    from defactonlp_spark.functions.urls import domain_rollup

    return domain_rollup(_docs_with_url(spark, sf_dir))


MLT_SEEDS = [0, 1, 2]


def q_more_like_this(spark, sf_dir):
    """Lucene MoreLikeThis analog (operators/analytics.py::more_like_this):
    per-seed top-5 corpus-idf keywords -> disjunctive BM25, self excluded."""
    from defactonlp_spark.operators.analytics import more_like_this
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    seeds = spark.createDataFrame([(s,) for s in MLT_SEEDS], "doc_id long")
    res = more_like_this(
        p, term_stats(p), seeds, n_docs, avgdl, like_terms=5, k=TOPK, rank_dp=6
    )
    return res.select(
        "seed_id", F.col("rank").cast("long").alias("rank"), "doc_id",
        F.round("score", 4).alias("score"),
    )


def q_facet_counts(spark, sf_dir):
    """Faceted search (operators/bm25.py::match_docs + analytics.py::
    facet_counts): per-claim matching-doc counts by lang and source over
    the FULL conjunctive match set (pre-top-k, the Lucene facet shape)."""
    from defactonlp_spark.operators.analytics import facet_counts
    from defactonlp_spark.operators.bm25 import claim_terms, match_docs

    p = _postings_cached(spark, sf_dir)
    matches = match_docs(p, claim_terms(_claims_df(spark)), require_all=True)
    attrs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    return facet_counts(matches, attrs, ["lang", "source"])


HYBRID_N_EACH = 10  # depth of each base ranking fed to RRF

# did-you-mean fixture: (claim_id, typo) — distance-1/2 misspellings of
# corpus terms plus one hopeless token
TYPO_TERMS = [
    (0, "mrge"),
    (0, "joinn"),
    (1, "windoww"),
    (1, "batc"),
    (2, "qqqzzzqq"),
]


def q_spell_correct(spark, sf_dir):
    """Did-you-mean (operators/postings.py::suggest_corrections): top
    dictionary term within Levenshtein 2 for each OOV query term, ranked
    dist asc / df desc / term asc."""
    from defactonlp_spark.operators.postings import suggest_corrections, term_stats

    p = _postings_cached(spark, sf_dir)
    q = spark.createDataFrame(TYPO_TERMS, "claim_id long, term string")
    res = suggest_corrections(term_stats(p), q, max_dist=2, topn=3)
    return res.select(
        "claim_id", "term", F.col("rank").cast("long").alias("rank"),
        "suggestion", F.col("dist").cast("long").alias("dist"),
        F.col("df").cast("long").alias("df"),
    )


def q_hybrid_similar(spark, sf_dir):
    """Hybrid similar-items: MoreLikeThis BM25 (lexical) + brute-force
    cosine over the aligned embeddings table (vector), fused with
    reciprocal-rank fusion (operators/analytics.py::rrf_fuse) — the
    standard hybrid-retrieval shape (rank-only fusion, scores never
    compared across modalities)."""
    from defactonlp_spark.operators.analytics import more_like_this, rrf_fuse
    from defactonlp_spark.operators.postings import term_stats
    from defactonlp_spark.operators.similarity import cosine_topk

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    seeds = spark.createDataFrame([(s,) for s in MLT_SEEDS], "doc_id long")
    text = more_like_this(
        p, term_stats(p), seeds, n_docs, avgdl,
        like_terms=5, k=HYBRID_N_EACH, rank_dp=6,
    ).select(F.col("seed_id").alias("claim_id"), "rank", "doc_id")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vec = cosine_topk(emb, MLT_SEEDS, k=HYBRID_N_EACH).select(
        F.col("query_id").alias("claim_id"), "rank",
        F.col("vec_id").alias("doc_id"),
    )
    return rrf_fuse([text, vec], k=TOPK).select(
        F.col("claim_id").cast("long").alias("seed_id"),
        F.col("rank").cast("long").alias("rank"),
        "doc_id", "rrf",
    )


def q_bigram_pmi(spark, sf_dir):
    """Collocation mining (operators/analytics.py::bigram_pmi): top token
    bigrams by PMI with a min-count support filter."""
    from defactonlp_spark.operators.analytics import bigram_pmi

    return bigram_pmi(_docs(spark, sf_dir), min_count=20, top=50)


def q_doc_keywords(spark, sf_dir):
    """Per-doc TF-IDF keyword extraction (operators/analytics.py::
    doc_keywords): top-3 terms per doc by tf * ln(N/df)."""
    from defactonlp_spark.operators.analytics import doc_keywords

    p = _postings_cached(spark, sf_dir)
    n_docs, _ = _engine_corpus_stats(p)
    return doc_keywords(p, n_docs, k=3).select(
        "doc_id", F.col("rank").cast("long").alias("rank"), "term", "weight"
    )


def q_chunk_dedup(spark, sf_dir):
    """Cross-corpus chunk-level exact dedup counts (operators/dedup.py::
    chunk_dedup — the C4 span-dedup rule, token-chunk flavored)."""
    from defactonlp_spark.operators.dedup import chunk_dedup

    return chunk_dedup(_docs(spark, sf_dir), chunk_tokens=10)


def q_curation_keep_stats(spark, sf_dir):
    """Fused one-pass curation (plans/curate.py::curation_pass — quality +
    repetition + PII in ONE scan + ONE kernel, Gopher/C4 gates) rolled up
    per language: (lang, n_docs, n_kept)."""
    from defactonlp_spark.plans.curate import curation_pass

    d = _docs(spark, sf_dir)
    cp = curation_pass(d)
    return (
        cp.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).cast("long").alias("n_kept"),
        )
    )


_STEM_SUFFIX = " queries tables stories glasses plus bus"


def q_stemmed_term_counts(spark, sf_dir):
    """S-stemmed vocabulary rollup (functions/stem.py): stem every token
    (suffix-class dispatch, codegen CASE), re-aggregate tf/df per stem.
    Every 4th doc gets a deterministic plural-rich suffix (mirrored in the
    twin) so all three rules + guards fire on the fixture corpus."""
    from defactonlp_spark.functions.stem import stem_postings
    from defactonlp_spark.operators.postings import build_postings

    d = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0, F.lit(_STEM_SUFFIX)).otherwise(F.lit("")),
        ),
    )
    sp = stem_postings(build_postings(d))
    return sp.groupBy("term").agg(
        F.sum("tf").cast("long").alias("total_tf"),
        F.count(F.lit(1)).cast("long").alias("df"),
    )


def q_doc_repetition(spark, sf_dir):
    """Gopher/C4-style repetition quality gates (functions/textstats.py::
    repetition_stats): dup-line fraction, top-bigram fraction, duplicated
    5-gram fraction — the standard LLM-pretraining repetition filters."""
    from defactonlp_spark.functions.textstats import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def q_doc_fingerprint(spark, sf_dir):
    from defactonlp_spark.functions.textstats import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def q_token_counts(spark, sf_dir):
    from defactonlp_spark.functions.textstats import token_count_col

    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        token_count_col().alias("n_tokens"),
    )


def _titled_docs(spark, sf_dir):
    """documents -> (doc_id, title): first two tokens joined by '_'."""
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != "")
    return _docs(spark, sf_dir).select(
        "doc_id", F.array_join(F.slice(toks, 1, 2), "_").alias("title")
    )


def _title_claims_df(spark):
    return spark.createDataFrame(TITLE_CLAIMS, "claim_id long, claim string")


def q_title_match(spark, sf_dir):
    """A12 — entity-heuristic doc retrieval via broadcast title join."""
    from defactonlp_spark.operators.docretrieval import title_match_docs

    res = title_match_docs(_title_claims_df(spark), _titled_docs(spark, sf_dir))
    return res.select(
        F.col("claim_id").cast("long").alias("claim_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
    )


def q_candidate_union(spark, sf_dir):
    """A13 — NER candidates ∪ BM25 top-k, deduplicated."""
    from defactonlp_spark.operators.bm25 import claim_terms, score_exhaustive
    from defactonlp_spark.operators.docretrieval import candidate_union, title_match_docs
    from defactonlp_spark.operators.postings import term_stats

    claims = _title_claims_df(spark)
    ner = title_match_docs(claims, _titled_docs(spark, sf_dir))
    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    tfidf = score_exhaustive(p, term_stats(p), claim_terms(claims), n_docs, avgdl, k=TOPK)
    res = candidate_union(ner, tfidf)
    return res.select(
        F.col("claim_id").cast("long").alias("claim_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
    )


def q_drqa_tfidf_topk(spark, sf_dir):
    """A9-A11 — DrQA-parity tf-idf retrieval (ngrams, stopword filter,
    log1p·clamped-idf weighting, sparse dot product)."""
    from defactonlp_spark.operators.drqa import drqa_closest_docs

    res = drqa_closest_docs(_docs(spark, sf_dir), _claims_df(spark), k=TOPK)
    return res.select(
        "claim_id",
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        F.round("score", 4).alias("score"),
    )


def q_sentence_chunks(spark, sf_dir):
    """A14 — sentence split (chunked pseudo-sentences for flat corpora)."""
    from defactonlp_spark.operators.sentences import split_chunks

    return split_chunks(_docs(spark, sf_dir), chunk_tokens=10).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("sent_idx").cast("long").alias("sent_idx"),
        "sentence",
    )


def q_sentence_topk(spark, sf_dir):
    """A15 — sentence-granularity BM25 retrieval (top-3 per claim).

    Ranked on the ROUNDED score (ties then by doc_id, sent_idx): chunked
    pseudo-sentences produce many mathematically-tied scores whose raw
    float64 values depend on engine summation order; ranking on the 4-dp
    value is deterministic across engines. Inner k=40 >> max rounded-tie
    group (10) so the re-rank never clips a tie group."""
    from pyspark.sql import Window

    from defactonlp_spark.operators.sentences import sentence_retrieval, split_chunks

    sents = split_chunks(_docs(spark, sf_dir), chunk_tokens=10)
    res = sentence_retrieval(sents, _claims_df(spark), k=40)
    w = Window.partitionBy("claim_id").orderBy(
        F.desc(F.round("score", 4)), F.asc("doc_id"), F.asc("sent_idx")
    )
    return (
        res.withColumn("rrank", F.row_number().over(w).cast("long"))
        .filter(F.col("rrank") <= 3)
        .select(
            "claim_id",
            F.col("rrank").alias("rank"),
            "doc_id",
            F.col("sent_idx").cast("long").alias("sent_idx"),
            F.round("score", 4).alias("score"),
        )
    )


def q_rte_label_agg(spark, sf_dir):
    """A16+A17 — the FEVER pipeline tail, end to end: top-3 sentences per
    claim (A15) -> batched RTE inference over (claim, sentence) pairs in one
    mapInPandas stage (A16, deterministic sha256 fake model — the documented
    offline stand-in for the AllenNLP forward) -> per-claim majority-vote
    label aggregation (A17). The DuckDB oracle recomputes the whole chain
    including the fake logits, so the driver checks retrieval, inference
    plumbing, and aggregation together."""
    from pyspark.sql import Window

    from defactonlp_spark.operators.dedup import _track_persist
    from defactonlp_spark.operators.rte import label_aggregate, rte_classify
    from defactonlp_spark.operators.sentences import sentence_retrieval, split_chunks

    claims = _claims_df(spark)
    sents = _track_persist(split_chunks(_docs(spark, sf_dir), chunk_tokens=10))
    res = sentence_retrieval(sents, claims, k=40)
    w = Window.partitionBy("claim_id").orderBy(
        F.desc(F.round("score", 4)), F.asc("doc_id"), F.asc("sent_idx")
    )
    top3 = (
        res.withColumn("rrank", F.row_number().over(w))
        .filter(F.col("rrank") <= 3)
        .select("claim_id", "doc_id", "sent_idx")
    )
    pairs = (
        top3.join(F.broadcast(claims), "claim_id")
        .join(sents, ["doc_id", "sent_idx"])
        .select("claim_id", "claim", "doc_id", "sent_idx", "sentence")
    )
    agg = label_aggregate(rte_classify(pairs))
    return agg.select(
        F.col("claim_id").cast("long").alias("claim_id"),
        "predicted_label",
        "n_votes",
        "n_sents",
    )


def q_fever_submission(spark, sf_dir):
    """The COMPOSED pipeline end to end through the submission writer
    (plans/fever.py::fever_pipeline + fever_submission_lines): BM25 doc
    top-5 -> candidate-scoped sentence retrieval top-3 -> batched RTE
    (deterministic sha256 stand-in) -> label aggregation -> page-string
    evidence -> the literal FEVER submission JSON line, heterogeneous
    [page:str, sent_idx:int] pairs included (ADVICE r3 medium). page_map
    maps doc_id -> 'Doc_<id>' (the trivially-invertible stand-in for page
    names; the string-id wiki path is exercised with REAL page-name
    strings in test_fever_pipeline_from_wiki_pages — dense-id assignment
    has no closed-form SQL twin, the submission assembly does).
    rank_dp=4 pins both retrieval stages to the engine-portable tie order.
    The DuckDB twin recomputes the whole chain INCLUDING the JSON line."""
    from defactonlp_spark.operators.sentences import split_chunks
    from defactonlp_spark.plans.fever import fever_pipeline, fever_submission_lines

    docs = _docs(spark, sf_dir)
    sents = split_chunks(docs, chunk_tokens=10)
    page_map = docs.select(
        "doc_id", F.concat(F.lit("Doc_"), F.col("doc_id").cast("string")).alias("page")
    )
    pred = fever_pipeline(
        docs, _claims_df(spark), sents, k_docs=TOPK, k_sents=3,
        page_map=page_map, rank_dp=4,
    )
    return fever_submission_lines(pred).select(
        F.col("claim_id").cast("long").alias("claim_id"),
        "predicted_label",
        "line",
    )


def q_fever_eval(spark, sf_dir):
    """A18 — FEVER scorer over an inline fixture (set containment logic)."""
    from defactonlp_spark.operators.fever import fever_score

    pred = spark.createDataFrame(
        FEVER_PRED,
        "claim_id long, predicted_label string, "
        "predicted_evidence array<struct<page:string,sent_idx:int>>",
    )
    gold = spark.createDataFrame(
        FEVER_GOLD,
        "claim_id long, label string, "
        "evidence array<array<struct<annot_id:long,ev_id:long,page:string,sent_idx:int>>>",
    )
    return fever_score(pred, gold)



def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (Hamming <= 2) via the lossless bit-band
    equi-join — same rows as the all-pairs oracle, no quadratic join."""
    from defactonlp_spark.operators.dedup import simhash, simhash_dup_pairs

    sig = simhash(_docs(spark, sf_dir)).persist()
    return simhash_dup_pairs(signatures=sig, max_hamming=2).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def q_lsh_ann_topk(spark, sf_dir):
    """Approximate nearest neighbors via random-hyperplane LSH with
    multi-probe. FULLY twinned since round 4 (was rows-only): the
    8 deterministic hyperplanes inline into SQL (sign-portability
    re-verified: 0 bucket mismatches at sf0.01, min margin ~9.6e-4), so
    buckets, Hamming-1 probes, and the exact in-bucket rescore are all
    recomputed in DuckDB; pytest additionally pins recall vs brute force."""
    from defactonlp_spark.operators.similarity import lsh_ann_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_ann_topk(emb, [0, 1, 2, 3, 4], k=10).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "cos",
    )







ANN_EVAL_QUERY_IDS = [0, 1, 2, 3, 4]
ANN_EVAL_K = 10
ANN_EVAL_BITS = 4


def q_ann_method_eval(spark, sf_dir):
    """ANN-method QA (VERDICT r3 #4, the `dedup_method_eval` pattern for the
    similarity tier): per-query recall@10 of the random-hyperplane LSH
    multi-probe top-k against the exact brute-force cosine top-k, BOTH
    computed in Spark (operators/similarity.py::ann_recall_eval).

    Fully twinned — the hyperplanes are a deterministic pure function of
    (dim, bit) (similarity.py::_hyperplane, seeded numpy), so the DuckDB
    oracle inlines the SAME 4x64 plane constants (repr() round-trips every
    float64 bit-exactly) and recomputes buckets, probes, both top-k sides,
    and the recall arithmetic end-to-end. Bucket sign tests are safe to
    twin: list_dot_product and the engine kernel share left-to-right
    float64 summation (verified: 0 bucket mismatches at sf0.01, minimum
    |dot| margin ~1e-3). n_bits=4 matches the lsh_dup_pairs tuning at this
    corpus scale (16 buckets over 500-2000 vectors keeps candidate sets
    meaningful). IVF stays OUT by design: its coarse quantizer is LEARNED
    (k-means), so no closed-form SQL twin exists — IVF recall is pinned in
    pytest instead (test_pipeline_ops.py::test_ivf_ann_vs_bruteforce).

    On the measured values: the fixture embeddings are random gaussian
    (WEAK neighbor structure — the hardest case for LSH), so recall@10 at
    the ~31% scan fraction these settings buy reads ~0.4-0.7, matching the
    documented pytest bar (~half of top-k), NOT the >=0.9 the dup-pair
    tier reports — near-dup detection probes cosine>=threshold pairs,
    where hyperplane collision probability is high by construction
    (test_lsh_dup_pairs_recall_and_exactness). Reporting the honest number
    for the honest workload is the point of the eval; production tuning
    raises n_bits with corpus size and widens probes per the
    recall-vs-scan-fraction trade this row makes visible."""
    from defactonlp_spark.operators.similarity import (
        ann_recall_eval,
        cosine_topk,
        lsh_ann_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = cosine_topk(emb, ANN_EVAL_QUERY_IDS, k=ANN_EVAL_K)
    approx = lsh_ann_topk(
        emb, ANN_EVAL_QUERY_IDS, k=ANN_EVAL_K, dim=64, n_bits=ANN_EVAL_BITS
    )
    return ann_recall_eval(exact, approx, k=ANN_EVAL_K).select(
        F.col("query_id").cast("long").alias("query_id"),
        "n_exact", "n_approx", "n_overlap", "recall",
    )


def q_drqa_tfidf_topk_hashed(spark, sf_dir):
    """A5 runtime artifact: DrQA-parity retrieval in the EXACT hashed term
    space (vectorized murmur3_32, seed 0, sklearn semantics, % 2^24 —
    functions/mmh3.py; collisions merge tf exactly as in DrQA's CSR).
    FULLY twinned since round 4 continuation: the oracle generator
    verifies the corpus vocabulary is collision-free under
    murmur3_32 %% 2^24, under which the hashed retrieval is
    feature-identical to the unhashed pipeline — so the unhashed twin IS
    the oracle; the hash itself stays pinned against hand-computed
    sklearn values in tests/test_mmh3.py."""
    from defactonlp_spark.operators.drqa import drqa_closest_docs

    res = drqa_closest_docs(_docs(spark, sf_dir), _claims_df(spark), k=TOPK, hash_mode="murmur")
    return res.select(
        "claim_id",
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        F.round("score", 4).alias("score"),
    )


def q_bpe_token_counts(spark, sf_dir):
    """BPE-ish pre-tokenizer token count per doc (LLM token-cost estimate;
    functions/textstats.py::bpe_token_count_col). Regex restricted to
    RE2/Java-common constructs so the DuckDB oracle runs the SAME pattern."""
    from defactonlp_spark.functions.textstats import bpe_token_count_col

    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        bpe_token_count_col().alias("n_bpe_tokens"),
    )


def q_doc_split_counts(spark, sf_dir):
    """Deterministic md5-based train/val/test split audit: (split, lang) ->
    n_docs. Pure function of doc_id — stable across runs, engines, and
    cluster sizes (operators/curation.py)."""
    from defactonlp_spark.operators.curation import split_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return split_counts(docs)


def q_source_stats(spark, sf_dir):
    """Per-source curation stats: volume, exact-dup rate (md5 identity),
    mean length — one hash-aggregate (operators/curation.py)."""
    from defactonlp_spark.operators.curation import source_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return source_stats(docs)


def q_ivf_ann_topk(spark, sf_dir):
    """Approximate nearest neighbors via IVF (learned k-means coarse
    quantizer, n_probe nearest cells, exact cosine rescoring). FULLY
    twinned since round 4 continuation: ivf_train is deterministic
    (strided init + fixed Lloyd iterations over the id-sorted sample), so
    the learned centroids inline into SQL like the LSH hyperplanes and
    cells/probes are recomputed in DuckDB — emitted only when every
    cell/probe decision clears a 1e-9 float margin at generation time.
    pytest additionally proves recall vs the exact brute-force baseline
    (test_pipeline_ops.py::test_ivf_ann_vs_bruteforce)."""
    from defactonlp_spark.operators.similarity import ivf_ann_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_ann_topk(emb, [0, 1, 2, 3, 4], k=10, n_centroids=16, n_probe=4).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "cos",
    )


def q_link_pagerank(spark, sf_dir):
    """Link-graph PageRank over the web corpus (Brin & Page 1998): damped
    power iteration with dangling-mass redistribution, 10 iterations, over
    a deterministic arithmetic link graph (operators/linkgraph.py — the
    fixture has no href column; production swaps in extracted (src, dst)
    edges). One shuffle per iteration, dangling mass as a 1-row broadcast,
    localCheckpoint every 3 rounds to cut lineage (the CC-loop guard).
    FULLY twinned despite being iterative: the DuckDB oracle rebuilds the
    identical graph from the same integer arithmetic and runs the same 10
    iterations as a programmatically UNROLLED chain of CTEs — value-hash
    checked, not rows-only. Top-20 by round(pr*N, 6), ties to doc_id."""
    from defactonlp_spark.operators.linkgraph import link_pagerank_topn

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return link_pagerank_topn(docs, topn=20)


def _sql_link_pagerank() -> str:
    """Unrolled power-iteration twin (PR_ITERS pairs of CTEs). No inlined
    corpus constants — N is a scalar subquery — so the same string is
    valid at every sf (no SPARK_GRAFT_ORACLE_SF_DIR dependence)."""
    from defactonlp_spark.operators.linkgraph import (
        PR_DAMPING,
        PR_ITERS,
        PR_MULT_A,
        PR_MULT_B,
        PR_OUT_DEGREE,
    )

    d = repr(PR_DAMPING)
    parts = [
        f"""
WITH params AS (SELECT count(*)::BIGINT AS n FROM documents),
nodes AS (SELECT doc_id::BIGINT AS id FROM documents),
edges0 AS MATERIALIZED (
  SELECT DISTINCT nd.id AS src,
         (nd.id * {PR_MULT_A} + j.j * {PR_MULT_B}) % p.n AS dst
  FROM nodes nd CROSS JOIN params p
  CROSS JOIN (SELECT unnest(range(1, {PR_OUT_DEGREE + 1})) AS j) j
  WHERE (nd.id * {PR_MULT_A} + j.j * {PR_MULT_B}) % p.n <> nd.id
),
edges AS MATERIALIZED (SELECT e.* FROM edges0 e JOIN nodes nd ON nd.id = e.dst),
deg AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY 1),
ed AS MATERIALIZED (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
dang AS MATERIALIZED (SELECT id FROM nodes WHERE id NOT IN (SELECT DISTINCT src FROM edges)),
r0 AS MATERIALIZED (SELECT id, 1.0 / p.n AS pr FROM nodes CROSS JOIN params p)"""
    ]
    for t in range(PR_ITERS):
        parts.append(f""",
dm{t} AS (SELECT coalesce(sum(r.pr), 0.0) AS dmass
          FROM dang dd JOIN r{t} r ON r.id = dd.id),
c{t} AS (SELECT e.dst AS id, sum(r.pr / e.deg) AS c
         FROM ed e JOIN r{t} r ON r.id = e.src GROUP BY 1),
r{t + 1} AS MATERIALIZED (
  SELECT nd.id, (1.0 - {d}) / p.n + {d} * (coalesce(c.c, 0.0) + dm.dmass / p.n) AS pr
  FROM nodes nd CROSS JOIN params p CROSS JOIN dm{t} dm
  LEFT JOIN c{t} c ON c.id = nd.id)""")
    parts.append(f"""
SELECT rank, doc_id, pr_scaled FROM (
  SELECT row_number() OVER (ORDER BY pr_scaled DESC, doc_id) AS rank,
         doc_id, pr_scaled
  FROM (SELECT id AS doc_id, round(pr * p.n, 6) AS pr_scaled
        FROM r{PR_ITERS} CROSS JOIN params p)
) WHERE rank <= 20
""")
    return "".join(parts)


def q_link_hits(spark, sf_dir):
    """HITS hubs & authorities (Kleinberg 1998) over the same
    deterministic link graph as link_pagerank: 6 mutual-reinforcement
    iterations normalized once at the end (scale-invariant power
    iteration — operators/linkgraph.py::hits), top-20 authorities with
    hub scores alongside. FULLY twinned: the DuckDB oracle unrolls the
    identical unnormalized recursion as MATERIALIZED CTE pairs and
    normalizes in the final projection."""
    from defactonlp_spark.operators.linkgraph import link_hits_topn

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return link_hits_topn(docs, topn=20)


def q_textrank_keywords(spark, sf_dir):
    """TextRank corpus keywords (Mihalcea & Tarau 2004): weighted
    PageRank over the adjacent-term co-occurrence graph (window 2,
    pairs < min_count pruned), reusing the SAME pagerank loop as
    link_pagerank with a weight column. The undirected graph has no
    dangling nodes, so the dangling term is exactly 0 in both engines.
    FULLY twinned: co-occurrence edges rebuilt in SQL via lead() over
    the shared tokpos fragment, then the weighted power iteration
    unrolled as MATERIALIZED CTEs. Top-20 by round(pr*V, 6), ties to
    term asc."""
    from defactonlp_spark.operators.linkgraph import textrank_keywords

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textrank_keywords(docs, topn=20, tokens=_tokens_cached(spark, sf_dir))


def _sql_link_hits() -> str:
    """Unrolled HITS twin: the same graph CTEs as the pagerank twin, then
    HITS_ITERS pairs of (auth, hub) CTEs — MATERIALIZED, since each level
    is referenced by the next on both sides and default inlining would go
    exponential — normalized to sum 1 only in the final projection
    (matching hits()'s end-normalization contract)."""
    from defactonlp_spark.operators.linkgraph import (
        HITS_ITERS,
        PR_MULT_A,
        PR_MULT_B,
        PR_OUT_DEGREE,
    )

    parts = [
        f"""
WITH params AS (SELECT count(*)::BIGINT AS n FROM documents),
nodes AS (SELECT doc_id::BIGINT AS id FROM documents),
edges0 AS MATERIALIZED (
  SELECT DISTINCT nd.id AS src,
         (nd.id * {PR_MULT_A} + j.j * {PR_MULT_B}) % p.n AS dst
  FROM nodes nd CROSS JOIN params p
  CROSS JOIN (SELECT unnest(range(1, {PR_OUT_DEGREE + 1})) AS j) j
  WHERE (nd.id * {PR_MULT_A} + j.j * {PR_MULT_B}) % p.n <> nd.id
),
edges AS MATERIALIZED (SELECT e.* FROM edges0 e JOIN nodes nd ON nd.id = e.dst),
h0 AS MATERIALIZED (SELECT id, 1.0 / p.n AS s FROM nodes CROSS JOIN params p)"""
    ]
    for t in range(HITS_ITERS):
        parts.append(f""",
a{t + 1} AS MATERIALIZED (
  SELECT nd.id, coalesce(x.s, 0.0) AS s FROM nodes nd LEFT JOIN (
    SELECT e.dst AS id, sum(h.s) AS s FROM edges e JOIN h{t} h ON h.id = e.src
    GROUP BY 1) x ON x.id = nd.id),
h{t + 1} AS MATERIALIZED (
  SELECT nd.id, coalesce(x.s, 0.0) AS s FROM nodes nd LEFT JOIN (
    SELECT e.src AS id, sum(a.s) AS s FROM edges e JOIN a{t + 1} a ON a.id = e.dst
    GROUP BY 1) x ON x.id = nd.id)""")
    T = HITS_ITERS
    parts.append(f""",
za AS (SELECT sum(s) AS z FROM a{T}),
zh AS (SELECT sum(s) AS z FROM h{T})
SELECT rank, doc_id, auth_scaled, hub_scaled FROM (
  SELECT row_number() OVER (ORDER BY auth_scaled DESC, doc_id) AS rank,
         doc_id, auth_scaled, hub_scaled
  FROM (SELECT a.id AS doc_id,
               round(CASE WHEN za.z <> 0.0 THEN a.s / za.z ELSE 0.0 END * p.n, 6)
                 AS auth_scaled,
               round(CASE WHEN zh.z <> 0.0 THEN h.s / zh.z ELSE 0.0 END * p.n, 6)
                 AS hub_scaled
        FROM a{T} a JOIN h{T} h USING (id)
        CROSS JOIN za CROSS JOIN zh CROSS JOIN params p)
) WHERE rank <= 20
""")
    return "".join(parts)


def _sql_textrank_keywords(sf_dir: str) -> str:
    """Unrolled weighted-PageRank twin over the SQL-rebuilt co-occurrence
    graph of the corpus in ``sf_dir`` (ASCII only, see
    :func:`_require_ascii_corpus`). No dangling-mass CTEs: the undirected
    edge relation gives every node out-edges, so the engine's dangling term
    is exactly 0.0 and base + d*(c + 0.0) == base + d*c bit-for-bit."""
    from defactonlp_spark.operators.linkgraph import (
        PR_DAMPING,
        TEXTRANK_ITERS,
        TEXTRANK_MIN_COUNT,
    )

    _require_ascii_corpus("textrank_keywords", sf_dir)
    dmp = repr(PR_DAMPING)
    parts = [
        f"""
WITH tl AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS t FROM documents
),
tokpos AS (
  SELECT doc_id, i AS pos, t[i] AS term FROM tl, unnest(range(1, len(t) + 1)) AS u(i)
),
nxt AS (
  SELECT doc_id, pos, term,
         lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM tokpos
),
prs AS (SELECT least(term, nxt) AS t1, greatest(term, nxt) AS t2
        FROM nxt WHERE nxt IS NOT NULL AND nxt <> term),
und AS MATERIALIZED (
  SELECT t1, t2, count(*)::DOUBLE AS w FROM prs GROUP BY 1, 2
  HAVING count(*) >= {TEXTRANK_MIN_COUNT}),
edges AS MATERIALIZED (
  SELECT t1 AS src, t2 AS dst, w FROM und
  UNION ALL SELECT t2 AS src, t1 AS dst, w FROM und),
nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
params AS (SELECT count(*)::BIGINT AS n FROM nodes),
deg AS (SELECT src, sum(w) AS deg FROM edges GROUP BY 1),
ed AS MATERIALIZED (SELECT e.src, e.dst, e.w, d.deg FROM edges e JOIN deg d USING (src)),
r0 AS MATERIALIZED (SELECT id, 1.0 / p.n AS pr FROM nodes CROSS JOIN params p)"""
    ]
    for t in range(TEXTRANK_ITERS):
        parts.append(f""",
c{t} AS (SELECT e.dst AS id, sum(r.pr * e.w / e.deg) AS c
         FROM ed e JOIN r{t} r ON r.id = e.src GROUP BY 1),
r{t + 1} AS MATERIALIZED (
  SELECT nd.id, (1.0 - {dmp}) / p.n + {dmp} * coalesce(c.c, 0.0) AS pr
  FROM nodes nd CROSS JOIN params p LEFT JOIN c{t} c ON c.id = nd.id)""")
    parts.append(f"""
SELECT rank, term, score_scaled FROM (
  SELECT row_number() OVER (ORDER BY score_scaled DESC, term) AS rank,
         term, score_scaled
  FROM (SELECT id AS term, round(pr * p.n, 6) AS score_scaled
        FROM r{TEXTRANK_ITERS} CROSS JOIN params p)
) WHERE rank <= 20
""")
    return "".join(parts)


LSH_DUP_THRESHOLD = 0.35
LSH_DUP_BITS = 4


def q_lsh_dup_pairs(spark, sf_dir):
    """LSH-bucketed embedding near-dup pairs — the scale path for
    embedding_dup_pairs. FULLY twinned since round 4 (was rows-only): the
    deterministic hyperplanes inline into SQL, buckets verified sign-
    portable, and the candidate generation + exact rounded rescore are
    recomputed end-to-end in DuckDB; pytest additionally proves recall vs
    the exact baseline."""
    from defactonlp_spark.operators.similarity import lsh_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_dup_pairs(emb, threshold=LSH_DUP_THRESHOLD, n_bits=LSH_DUP_BITS).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "cos",
    )


def q_revenue_cube(spark, sf_dir):
    """CUBE aggregation (all grouping-set combinations)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def q_event_sessions(spark, sf_dir):
    """Sessionization: per-user sessions split at >30-minute gaps (lag +
    running sum window) — the classic event-log preparation op."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.col("ts") - F.lag("ts").over(w)) > F.expr("INTERVAL 30 MINUTES")
    sess = ev.withColumn("new_sess", F.when(gap, 1).otherwise(0)).withColumn(
        "session_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("ts").cast("string").alias("session_start"),
        F.max("ts").cast("string").alias("session_end"),
        F.round(F.sum("value"), 4).alias("total_value"),
    ).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("session_id").cast("long").alias("session_id"),
        "n_events", "session_start", "session_end", "total_value",
    )


def q_value_percentiles(spark, sf_dir):
    """Exact percentiles (linear interpolation) of event value per type."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )



def q_media_features(spark, sf_dir):
    """Multimodal plumbing, driver-checked end-to-end: documents become an
    opaque-binary media table (payload = utf-8 bytes), the mapInPandas
    feature extractor runs with the deterministic sha256 fake codec (the
    real PIL/torchaudio decode is the documented stub), and the oracle
    recomputes the same features from sha256 hex in SQL."""
    from defactonlp_spark.functions.multimodal import extract_media_features

    docs = _docs(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    feats = extract_media_features(media, fake=True)
    return feats.select(
        "media_id",
        "n_bytes",
        *[
            F.round(F.element_at("features", i + 1).cast("double"), 6).alias(f"feat_{i}")
            for i in range(4)
        ],
    )



def q_latest_event_per_user(spark, sf_dir):
    """max_by latest-record-per-key dedup — the recrawl-dedup pattern
    (operators/postings.py::latest_per_url) over the events fixture."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = ev.groupBy("user_id").agg(
        F.max_by(F.struct("event_id", "ts", "event_type", "value"), F.struct("ts", "event_id")).alias("_r")
    )
    return agg.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("_r.event_id").cast("long").alias("event_id"),
        F.col("_r.ts").cast("string").alias("ts"),
        F.col("_r.event_type").alias("event_type"),
        F.round("_r.value", 6).alias("value"),
    )


def _child_postings(spark, sf_dir):
    """Chunk pseudo-sentences as the CHILD corpus of the parent-child
    (block join) queries, child ids composite doc_id*2^20 + sent_idx —
    the same id scheme as sentence retrieval. Memoized per session like
    the other shared fixtures (the has_child / has_parent pair shares it)."""
    key = (spark, "child_postings", sf_dir)
    if key not in _MEMO:
        from defactonlp_spark.operators.postings import build_postings
        from defactonlp_spark.operators.sentences import split_chunks

        chunks = split_chunks(_docs(spark, sf_dir), chunk_tokens=10).select(
            (F.col("doc_id") * (1 << 20) + F.col("sent_idx")).alias("child_id"),
            "sentence",
        )
        _MEMO[key] = build_postings(
            chunks, id_col="child_id", text_col="sentence"
        ).persist()
    return _MEMO[key]


HAS_CHILD_MIN_CHILDREN = 2


def q_has_child_topk(spark, sf_dir):
    """ES has_child / Lucene ToParentBlockJoinQuery: children = 10-token
    chunk pseudo-sentences, scored BM25 against the claim (ALL matching
    children, not a top-k), aggregated to the parent doc with
    score_mode=max and min_children=2, top-k parents per claim
    (operators/blockjoin.py::score_has_child over bm25.score_all)."""
    from defactonlp_spark.operators.blockjoin import score_has_child
    from defactonlp_spark.operators.bm25 import claim_terms, score_all
    from defactonlp_spark.operators.postings import term_stats

    cp = _child_postings(spark, sf_dir)
    n_children, child_avgdl = _engine_corpus_stats(cp)
    child_scores = score_all(
        cp, term_stats(cp), claim_terms(_claims_df(spark)), n_children, child_avgdl
    ).withColumnRenamed("doc_id", "child_id")
    res = score_has_child(
        child_scores,
        parent_of=(F.col("child_id") / (1 << 20)).cast("long"),
        score_mode="max",
        min_children=HAS_CHILD_MIN_CHILDREN,
        k=TOPK,
        rank_dp=6,
    )
    return res.select(
        "claim_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("parent_id").cast("long").alias("parent_id"),
        F.round("score", 4).alias("score"),
        F.col("n_children").cast("long").alias("n_children"),
    )


def q_has_parent_children(spark, sf_dir):
    """ES has_parent (score=true): parents matched by plain BM25 top-k,
    every CHILD chunk of a matching parent returned carrying its parent's
    score (operators/blockjoin.py::score_has_parent). Sorted client-side
    columns only — the row set is (claims x top-k parents x their chunks)."""
    from defactonlp_spark.operators.blockjoin import score_has_parent
    from defactonlp_spark.operators.bm25 import claim_terms, score_exhaustive
    from defactonlp_spark.operators.postings import term_stats
    from defactonlp_spark.operators.sentences import split_chunks

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    parents = score_exhaustive(
        p, term_stats(p), claim_terms(_claims_df(spark)), n_docs, avgdl, k=3
    ).select("claim_id", F.col("doc_id").alias("parent_id"), "score")
    children = split_chunks(_docs(spark, sf_dir), chunk_tokens=10).select(
        F.col("doc_id").alias("parent_id"), F.col("sent_idx").alias("child_idx")
    )
    res = score_has_parent(parents, children, child_cols=("child_idx",))
    return res.select(
        "claim_id",
        F.col("parent_id").cast("long").alias("parent_id"),
        F.col("child_idx").cast("long").alias("child_idx"),
        F.round("score", 4).alias("score"),
    )


RANK_FEATURE_PIVOT, RANK_FEATURE_BOOST = 0.5, 2.0


def q_rank_feature_topk(spark, sf_dir):
    """ES rank_feature query (saturation): final = bm25 + boost * q/(q+pivot)
    over the quality-model score — the ADDITIVE static signal (bounded by
    the saturation asymptote), vs bm25_topk_boosted's multiplicative prior
    (operators/bm25.py::score_rank_feature)."""
    from defactonlp_spark.functions.textstats import quality_features
    from defactonlp_spark.operators.bm25 import claim_terms, score_rank_feature
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    feats = quality_features(_docs(spark, sf_dir)).select(
        "doc_id", F.round("quality", 6).alias("feature")
    )
    res = score_rank_feature(
        p, term_stats(p), claim_terms(_claims_df(spark)), n_docs, avgdl,
        feats, pivot=RANK_FEATURE_PIVOT, boost=RANK_FEATURE_BOOST, k=TOPK,
    )
    return res.select(
        "claim_id", "doc_id",
        F.round("bm25", 4).alias("bm25"),
        F.round("score", 4).alias("score"),
    )


def q_events_pipeline_aggs(spark, sf_dir):
    """ES pipeline aggregations over a date_histogram: hourly buckets with
    gap filling (min_doc_count=0), derivative, cumulative_sum, and a
    trailing moving average — the bucket relation is metadata-scale so the
    ordered window is driver-bounded by construction
    (operators/analytics.py::date_histogram_pipeline)."""
    from defactonlp_spark.operators.analytics import date_histogram_pipeline

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    res = date_histogram_pipeline(ev)
    return res.select(
        F.col("bucket").cast("string").alias("bucket"),
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 4).alias("sum_value"),
        F.col("derivative").cast("long").alias("derivative"),
        F.col("cumulative").cast("long").alias("cumulative"),
        F.round("moving_avg", 6).alias("moving_avg"),
    )


TERM_VECTOR_DOCS = [1, 2, 3]


def q_term_vectors(spark, sf_dir):
    """ES _termvectors API (term_statistics=true): per requested doc, every
    term with tf + dl and the dictionary's df/ttf — an id-list lookup whose
    filter reaches the postings scan (operators/postings.py::term_vectors)."""
    from defactonlp_spark.operators.postings import term_stats, term_vectors

    p = _postings_cached(spark, sf_dir)
    res = term_vectors(p, term_stats(p), TERM_VECTOR_DOCS)
    return res.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("dl").cast("long").alias("dl"),
        F.col("df").cast("long").alias("df"),
        F.col("ttf").cast("long").alias("ttf"),
    )


def q_extended_stats(spark, sf_dir):
    """ES extended_stats aggregation per event_type: the full moment set
    (count/min/max/sum/avg/sum_of_squares/variance/std) from re-aggregable
    partials in one shuffle (operators/analytics.py::extended_stats)."""
    from defactonlp_spark.operators.analytics import extended_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    res = extended_stats(ev, ["event_type"], "value")
    return res.select(
        "event_type",
        F.col("count").cast("long").alias("count"),
        F.round("min", 6).alias("min"),
        F.round("max", 6).alias("max"),
        F.round("sum", 4).alias("sum"),
        F.round("avg", 6).alias("avg"),
        F.round("sum_of_squares", 2).alias("sum_of_squares"),
        F.round("variance", 4).alias("variance"),
        F.round("std_deviation", 6).alias("std_deviation"),
    )


LM_LAMBDA = 0.1
RRF_WINDOW, RRF_K, RRF_CONST = 20, 10, 60
AUTO_DH_TARGET = 20
# pinned-query fixture: per-claim promoted doc ids in pin order; doc 11 and
# 42 are unlikely organic top-10 members, exercising the unmatched-pin path
PINNED_DOCS = [(0, 7, 1), (0, 11, 2), (1, 3, 1), (2, 42, 1), (2, 5, 2)]
BBQ_QUERY_IDS, BBQ_FETCH_K = [0, 1, 2, 3, 4], 50
HEAPS_BUCKET = 50
FIS_MIN_SUPPORT, FIS_CAP, FIS_TOP = 250, 12, 20
# phrase-suggester fixture: one-edit typos over the corpus vocabulary, one
# already-correct input (suggests itself), one hopeless OOV (no rows)
SUGGEST_INPUTS = [
    (0, "mrge join"),
    (1, "hash tble"),
    (2, "qury scan"),
    (3, "sort mrge join"),
    (4, "zzzzzz qqqqqq"),
    (5, "sow data"),
    (6, "the sow batch"),
]
# simple_query_string fixture: exercises must/should/must_not x
# term/phrase/prefix, the | separator, and an out-of-corpus must (-> 0 rows)
QS_QUERIES = [
    (0, "merge +join"),
    (1, '"table hash" -stream'),
    (2, "+quer* scan"),
    (3, '+"merge group" sort'),
    (4, "data | window -batch"),
    (5, "+zzznope merge"),
]
GEO_QLAT, GEO_QLON, GEO_RADIUS_KM, GEO_K = 37.5, -122.0, 6000.0, 10
GEO_ZOOM, GEO_GRID_TOP = 4, 25
GEO_BBOX = (-30.0, 40.0, -90.0, 60.0)  # lat_lo, lat_hi, lon_lo, lon_hi
PCTRANK_VALUES = [25.0, 250.0]
BUCKET_MIN_AVG = 49.0
ADJ_FILTERS = {"a": "merge", "b": "table", "c": "spark"}


def q_lm_jm_topk(spark, sf_dir):
    """Jelinek-Mercer-smoothed query likelihood (Lucene
    LMJelinekMercerSimilarity; Zhai & Lafferty 2001) — the third smoothing
    family next to Dirichlet and BM25 (operators/lm.py)."""
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.lm import ctf_stats, score_lm_jelinek_mercer
    from defactonlp_spark.operators.postings import corpus_stats

    p = _postings_cached(spark, sf_dir)
    total = int(corpus_stats(p).collect()[0]["total_tokens"])
    res = score_lm_jelinek_mercer(
        p, ctf_stats(p), claim_terms(_claims_df(spark)), total, lam=LM_LAMBDA, k=TOPK
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_dfr_inl2_topk(spark, sf_dir):
    """DFR I(n)L2 retrieval (Amati & van Rijsbergen 2002; Lucene
    DFRSimilarity In/L/H2) — completes the Lucene similarity families:
    BM25 / TF-IDF / LMDirichlet / LMJelinekMercer / DFR
    (operators/lm.py::score_dfr_inl2)."""
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.lm import score_dfr_inl2
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    res = score_dfr_inl2(
        p, term_stats(p), claim_terms(_claims_df(spark)), n_docs, avgdl, c=1.0, k=TOPK
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_dfi_topk(spark, sf_dir):
    """DFI chi-squared retrieval (Kocabas et al. 2014; Lucene DFISimilarity
    IndependenceChiSquared) — nonparametric divergence-from-independence
    scoring; terms at/below expected frequency contribute exactly 0
    (operators/lm.py::score_dfi_chisq)."""
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.lm import ctf_stats, score_dfi_chisq
    from defactonlp_spark.operators.postings import corpus_stats

    p = _postings_cached(spark, sf_dir)
    total = int(corpus_stats(p).collect()[0]["total_tokens"])
    res = score_dfi_chisq(p, ctf_stats(p), claim_terms(_claims_df(spark)), total, k=TOPK)
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_ib_spl_topk(spark, sf_dir):
    """Information-Based SPL retrieval (Clinchant & Gaussier 2010; Lucene
    IBSimilarity SPL/DF/H2) (operators/lm.py::score_ib_spl)."""
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.lm import score_ib_spl
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    res = score_ib_spl(
        p, term_stats(p), claim_terms(_claims_df(spark)), n_docs, avgdl, c=1.0, k=TOPK
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_axiomatic_topk(spark, sf_dir):
    """Axiomatic F2EXP retrieval (Fang & Zhai 2005; Lucene AxiomaticF2EXP,
    shipped defaults s=0.5 k=0.35) — with DFI and IB this completes every
    similarity family Lucene ships as a named class
    (operators/lm.py::score_axiomatic_f2exp)."""
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.lm import score_axiomatic_f2exp
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    res = score_axiomatic_f2exp(
        p, term_stats(p), claim_terms(_claims_df(spark)), n_docs, avgdl, k=TOPK
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_rrf_fusion_topk(spark, sf_dir):
    """ES 8.x `rrf` retriever (Cormack et al. 2009): reciprocal-rank fusion
    of two retrievers' top-{RRF_WINDOW} lists — LM Dirichlet and DFR InL2,
    both rank-pinned on (round(score,6) DESC, doc_id) so the input ranks
    are bit-identical cross-engine. rrf = sum 1/(60 + rank)
    (operators/analytics.py::rrf_fuse)."""
    from defactonlp_spark.operators.analytics import rrf_fuse
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.lm import (
        ctf_stats,
        score_dfr_inl2,
        score_lm_dirichlet,
    )
    from defactonlp_spark.operators.postings import corpus_stats, term_stats

    p = _postings_cached(spark, sf_dir)
    st = corpus_stats(p).collect()[0]
    n_docs, avgdl, total = int(st["n_docs"]), float(st["avgdl"]), int(st["total_tokens"])
    qt = claim_terms(_claims_df(spark))
    lmd = score_lm_dirichlet(p, ctf_stats(p), qt, total, mu=LM_MU, k=RRF_WINDOW)
    dfr = score_dfr_inl2(p, term_stats(p), qt, n_docs, avgdl, c=1.0, k=RRF_WINDOW)
    res = rrf_fuse([lmd, dfr], k=RRF_K, rrf_k=RRF_CONST)
    return res.select("claim_id", "doc_id", F.round("rrf", 6).alias("rrf"))


def q_query_string_topk(spark, sf_dir):
    """ES simple_query_string endpoint: lenient flat syntax (+must, -not,
    "phrase", prefix*, |) parsed driver-side and compiled onto the clause
    machinery — term BM25, phrase-restricted BM25, constant-score prefix
    expansion — under score_boolean's must/should/must_not semantics
    (operators/querystring.py)."""
    from defactonlp_spark.operators.postings import term_stats
    from defactonlp_spark.operators.querystring import (
        parse_simple_query_string,
        score_query_string,
    )

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    parsed = {cid: parse_simple_query_string(q) for cid, q in QS_QUERIES}
    res = score_query_string(
        p, term_stats(p), _tokens_cached(spark, sf_dir), parsed, n_docs, avgdl, k=TOPK
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def q_phrase_suggest(spark, sf_dir):
    """ES phrase suggester (did-you-mean over whole inputs): per-position
    dictionary candidates within one edit + corpus bigram LM with stupid
    backoff scoring candidate sequences, plus the edit-channel penalty
    (operators/expansion.py::phrase_suggest)."""
    from defactonlp_spark.operators.analytics import token_bigrams
    from defactonlp_spark.operators.expansion import phrase_suggest
    from defactonlp_spark.operators.lm import ctf_stats
    from defactonlp_spark.operators.postings import corpus_stats

    p = _postings_cached(spark, sf_dir)
    total = int(corpus_stats(p).collect()[0]["total_tokens"])
    big = (
        token_bigrams(_docs(spark, sf_dir))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    res = phrase_suggest(ctf_stats(p), big, SUGGEST_INPUTS, total)
    return res.select("claim_id", "suggestion", F.round("score", 6).alias("score"))


def q_frequent_item_sets(spark, sf_dir):
    """ES frequent_item_sets aggregation (market-basket mining), apriori
    up to 3-item sets over per-doc distinct terms; the per-doc cap is the
    deterministic analog of ES's sampling
    (operators/analytics.py::frequent_item_sets)."""
    from defactonlp_spark.operators.analytics import frequent_item_sets

    items = _postings_cached(spark, sf_dir).select(
        "doc_id", F.col("term").alias("item")
    )
    return frequent_item_sets(
        items, min_support=FIS_MIN_SUPPORT, per_doc_cap=FIS_CAP, top=FIS_TOP
    )


def q_ltr_rerank(spark, sf_dir):
    """Apply the deterministic linear LTR model to the LOGGED feature
    values (4/4/6 dp — exactly what a feature store serves) and re-rank
    the BM25 top-10: the serving half of the ES LTR rescorer
    (operators/ltr.py::ltr_rerank, weights operators/ltr.py::LTR_WEIGHTS)."""
    from defactonlp_spark.functions.textstats import quality_features
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.lm import ctf_stats
    from defactonlp_spark.operators.ltr import ltr_features, ltr_rerank
    from defactonlp_spark.operators.postings import corpus_stats, term_stats

    p = _postings_cached(spark, sf_dir)
    cs = corpus_stats(p).collect()[0]
    n_docs, avgdl, total = int(cs["n_docs"]), float(cs["avgdl"]), int(cs["total_tokens"])
    qual = quality_features(_docs(spark, sf_dir)).select("doc_id", "quality")
    feats = ltr_features(
        p, term_stats(p), ctf_stats(p), claim_terms(_claims_df(spark)), qual,
        n_docs, avgdl, total, k=LTR_K, mu=LTR_MU,
    )
    logged = feats.select(
        "claim_id", "rank", "doc_id",
        F.round("bm25", 4).alias("bm25"),
        F.round("lm_qlh", 4).alias("lm_qlh"),
        "n_matched", "dl", "quality",
    )
    res = ltr_rerank(logged, k=TOPK)
    return res.select(
        "claim_id",
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        F.round("model_score", 6).alias("model_score"),
        "bm25_rank",
    )


def q_corpus_zipf(spark, sf_dir):
    """Zipf rank-frequency fit over the corpus unigram distribution — the
    crawl-slice sanity diagnostic (operators/analytics.py::corpus_zipf)."""
    from defactonlp_spark.operators.analytics import corpus_zipf

    r = corpus_zipf(_postings_cached(spark, sf_dir))
    return r.select(
        "n_terms",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round("r2", 6).alias("r2"),
    )


def q_heaps_growth(spark, sf_dir):
    """Heaps-law vocabulary-growth curve sampled at doc-id bucket
    boundaries; the prefix sum runs over the metadata-scale bucket
    relation only (operators/analytics.py::heaps_growth)."""
    from defactonlp_spark.operators.analytics import heaps_growth

    return heaps_growth(_postings_cached(spark, sf_dir), bucket_docs=HEAPS_BUCKET)


def q_ndcg_pruned(spark, sf_dir):
    """Graded serving-tier regression gate: nDCG@10 + MRR of the
    Carmel-pruned index's BM25 ranking against the full index's ranking
    (grades pinned from the reference rank — the graded companion to
    pruned_rbo) (operators/analytics.py::ndcg_eval)."""
    from defactonlp_spark.operators.analytics import ndcg_eval
    from defactonlp_spark.operators.bm25 import claim_terms, score_exhaustive
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    stats = term_stats(p)
    qt = claim_terms(_claims_df(spark))
    truth = score_exhaustive(p, stats, qt, n_docs, avgdl, k=RRF_K)
    pruned = _pruned_postings_cached(spark, sf_dir)
    ev = score_exhaustive(pruned, stats, qt, n_docs, avgdl, k=RRF_K)
    r = ndcg_eval(ev, truth, k=RRF_K)
    return r.select(
        "claim_id",
        F.round("dcg", 6).alias("dcg"),
        F.round("idcg", 6).alias("idcg"),
        F.round("ndcg", 6).alias("ndcg"),
        F.round("rr", 6).alias("rr"),
    )


def q_bbq_ann_topk(spark, sf_dir):
    """BBQ-style binary-quantized ANN (the ES 8.16 default storage idea at
    its simplest honest tier): sign bits packed into ONE int64 per vector,
    Hamming candidate generation via xor+bit_count over the 8-byte bit
    column, exact cosine rescore of the top fetch_k
    (operators/similarity.py::bq_ann_topk)."""
    from defactonlp_spark.operators.similarity import bq_ann_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    res = bq_ann_topk(emb, BBQ_QUERY_IDS, k=RRF_K, fetch_k=BBQ_FETCH_K)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "vec_id",
        F.col("hamming").cast("long").alias("hamming"),
        "cos",
    )


def q_pinned_topk(spark, sf_dir):
    """ES pinned query / searchable query rules: promote the fixture's
    pinned docs to the top in pin order (even when the organic BM25 query
    did not match them), fill with organic-minus-pinned
    (operators/bm25.py::apply_pinned)."""
    from defactonlp_spark.operators.bm25 import apply_pinned, claim_terms, score_exhaustive
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    organic = score_exhaustive(
        p, term_stats(p), claim_terms(_claims_df(spark)), n_docs, avgdl, k=RRF_K
    )
    pins = spark.createDataFrame(PINNED_DOCS, "claim_id long, doc_id long, pin_pos int")
    res = apply_pinned(organic, pins, k=RRF_K)
    return res.select(
        "claim_id",
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        "pinned",
        F.round("score", 4).alias("score"),
    )


def q_quality_linear(spark, sf_dir):
    """Model-based quality filter (fastText/CCNet-classifier slot): linear
    score over md5-hashed char 3-gram features with deterministic stand-in
    weights, sigmoid of the 6dp-rounded mean — one Arrow kernel pass, no
    gram explode (functions/textstats.py::quality_linear)."""
    from defactonlp_spark.functions.textstats import quality_linear

    res = quality_linear(_docs(spark, sf_dir))
    return res.select(
        "doc_id", "n_grams", F.round("quality_score", 6).alias("quality_score")
    )


def q_random_sampler_agg(spark, sf_dir):
    """ES random_sampler aggregation, deterministic md5-hash tier: 10%
    sample with inverse-probability corrected count
    (operators/analytics.py::random_sampler)."""
    from defactonlp_spark.operators.analytics import random_sampler

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    res = random_sampler(ev, "event_id", ["event_type"], "value", permille=100)
    return res.select(
        "event_type",
        "n_sampled",
        F.round("est_count", 6).alias("est_count"),
        F.round("avg_value", 6).alias("avg_value"),
    )


def q_diversified_sample_stats(spark, sf_dir):
    """ES diversified_sampler aggregation: walk the BM25 top-20 in rank
    order keeping max 2 docs per source, stop at 10, then summarize the
    diversified sample (operators/analytics.py::diversified_sampler)."""
    from defactonlp_spark.operators.analytics import diversified_sampler
    from defactonlp_spark.operators.bm25 import claim_terms, score_exhaustive
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    ranked = score_exhaustive(
        p, term_stats(p), claim_terms(_claims_df(spark)), n_docs, avgdl, k=RRF_WINDOW
    )
    meta = _docs(spark, sf_dir).select("doc_id", "source")
    res = diversified_sampler(ranked, meta, max_per_value=2, sample_size=10)
    return res.select(
        "claim_id", "n_sample", "n_values", F.round("avg_score", 4).alias("avg_score")
    )


def q_semdedup_keep_stats(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) composed end-to-end over EMBEDDINGS:
    LSH-bucketed cosine near-dup pairs -> connected components -> keep the
    minimum id per semantic cluster -> per-source kept/dropped stats. The
    text-dedup funnel's cluster-resolution step applied to the embedding
    modality; every stage reuses an existing twinned operator
    (similarity.lsh_dup_pairs + dedup.duplicate_clusters)."""
    from defactonlp_spark.operators.dedup import duplicate_clusters
    from defactonlp_spark.operators.similarity import lsh_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = lsh_dup_pairs(emb, threshold=LSH_DUP_THRESHOLD, n_bits=LSH_DUP_BITS)
    clusters = duplicate_clusters(
        emb.select(F.col("vec_id").alias("doc_id")), pairs
    )
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    return (
        clusters.join(docs, "doc_id", "inner")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("keep").cast("int")).cast("long").alias("n_kept"),
            F.sum((~F.col("keep")).cast("int")).cast("long").alias("n_dropped"),
        )
    )


def q_string_stats(spark, sf_dir):
    """ES string_stats aggregation per lang over documents.text: length
    stats + Shannon char-entropy from a distributed char histogram
    (operators/analytics.py::string_stats)."""
    from defactonlp_spark.operators.analytics import string_stats

    res = string_stats(_docs(spark, sf_dir), ["lang"], "text")
    return res.select(
        "lang",
        F.col("count").alias("n_docs"),
        "min_length",
        "max_length",
        F.round("avg_length", 6).alias("avg_length"),
        F.round("entropy", 6).alias("entropy"),
    )


def q_value_mad(spark, sf_dir):
    """ES median_absolute_deviation per event_type, exact two-pass tier
    (operators/analytics.py::median_absolute_deviation)."""
    from defactonlp_spark.operators.analytics import median_absolute_deviation

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    res = median_absolute_deviation(ev, ["event_type"], "value")
    return res.select(
        "event_type", F.round("median", 6).alias("median"), F.round("mad", 6).alias("mad")
    )


def q_value_boxplot(spark, sf_dir):
    """ES boxplot aggregation per event_type, exact five-number summary
    (operators/analytics.py::boxplot_agg)."""
    from defactonlp_spark.operators.analytics import boxplot_agg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    res = boxplot_agg(ev, ["event_type"], "value")
    return res.select(
        "event_type",
        F.round("min", 6).alias("min"),
        F.round("q1", 6).alias("q1"),
        F.round("q2", 6).alias("q2"),
        F.round("q3", 6).alias("q3"),
        F.round("max", 6).alias("max"),
        F.round("iqr", 6).alias("iqr"),
    )


def q_ttest_purchase_click(spark, sf_dir):
    """ES t_test aggregation (heteroscedastic / Welch) between the
    purchase and click event populations — single scan, two CASE masks
    (operators/analytics.py::t_test_welch)."""
    from defactonlp_spark.operators.analytics import t_test_welch

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    res = t_test_welch(
        ev, F.col("event_type") == "purchase", F.col("event_type") == "click", "value"
    )
    return res.select(
        "n_a",
        "n_b",
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round("t_stat", 6).alias("t_stat"),
        F.round("df", 4).alias("df"),
    )


def q_events_rate_daily(spark, sf_dir):
    """ES rate aggregation inside a daily date_histogram: per-hour rate
    from day buckets (operators/analytics.py::rate_agg)."""
    from defactonlp_spark.operators.analytics import rate_agg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    res = rate_agg(ev)
    return res.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
        F.round("rate_per_hour", 6).alias("rate_per_hour"),
    )


def q_multi_terms_agg(spark, sf_dir):
    """ES multi_terms aggregation: buckets keyed by (source, lang) tuple,
    doc_count desc then keys, avg(n_chars) sub-agg
    (operators/analytics.py::multi_terms)."""
    from defactonlp_spark.operators.analytics import multi_terms

    res = multi_terms(_docs(spark, sf_dir), ["source", "lang"], "n_chars", size=10)
    return res.select(
        "source", "lang", "doc_count", F.round("avg_metric", 6).alias("avg_chars")
    )


def q_auto_date_hist(spark, sf_dir):
    """ES auto_date_histogram: ladder-selected interval targeting <= 20
    buckets, the chosen interval emitted per row so the oracle checks the
    SELECTION too (operators/analytics.py::auto_date_histogram)."""
    from defactonlp_spark.operators.analytics import auto_date_histogram

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    res = auto_date_histogram(ev, target_buckets=AUTO_DH_TARGET)
    return res.select(
        "interval_sec",
        "bucket_start",
        "doc_count",
        F.round("sum_value", 4).alias("sum_value"),
    )


def q_geo_centroid_bounds(spark, sf_dir):
    """ES geo_centroid + geo_bounds aggregations per source over the
    synthetic md5 geo_points (operators/geo.py::geo_centroid_bounds)."""
    from defactonlp_spark.operators.geo import geo_centroid_bounds

    res = geo_centroid_bounds(_geo_docs(spark, sf_dir))
    return res.select(
        "group",
        "n_docs",
        F.round("centroid_lat", 6).alias("centroid_lat"),
        F.round("centroid_lon", 6).alias("centroid_lon"),
        F.round("top_left_lat", 6).alias("top_left_lat"),
        F.round("top_left_lon", 6).alias("top_left_lon"),
        F.round("bottom_right_lat", 6).alias("bottom_right_lat"),
        F.round("bottom_right_lon", 6).alias("bottom_right_lon"),
    )


def _geo_docs(spark, sf_dir):
    from defactonlp_spark.operators.geo import with_coords

    return with_coords(_docs(spark, sf_dir))


def q_geo_distance_topk(spark, sf_dir):
    """ES geo_distance query + distance sort: k nearest docs within a
    radius of the query point. Coordinates are the deterministic md5
    synthetic geo_point (operators/geo.py — engine-portable stand-in for a
    real lat/lon column); a sargable bounding-box pre-filter fronts the
    haversine so file pruning can bite on a Z-ordered table."""
    from defactonlp_spark.operators.geo import geo_distance_topk

    res = geo_distance_topk(
        _geo_docs(spark, sf_dir), GEO_QLAT, GEO_QLON, GEO_RADIUS_KM, k=GEO_K
    )
    return res.select(
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        F.round("lat", 6).alias("lat"),
        F.round("lon", 6).alias("lon"),
        F.round("dist_km", 4).alias("dist_km"),
    )


def q_geo_grid_agg(spark, sf_dir):
    """Geo-grid bucketing (the ES geohash_grid/geotile_grid role): top
    cells of a rectangular lat/lon grid by doc count. Cell assignment is
    pure +*/floor arithmetic — bit-identical across engines — which is why
    THIS grid is the oracle-twinned one; the web-mercator geotile_grid
    variant (tan/ln) is pinned by pytest (operators/geo.py::geo_grid)."""
    from defactonlp_spark.operators.geo import geo_grid

    res = geo_grid(_geo_docs(spark, sf_dir), GEO_ZOOM, top=GEO_GRID_TOP)
    return res.select(
        F.col("rank").cast("long").alias("rank"),
        "cell_x",
        "cell_y",
        "n_docs",
        F.round("avg_chars", 6).alias("avg_chars"),
    )


def q_geo_bbox_stats(spark, sf_dir):
    """ES geo_bounding_box filter + terms facet over the survivors — the
    box predicate is map-only and pushes to the scan
    (operators/geo.py::geo_bbox_stats)."""
    from defactonlp_spark.operators.geo import geo_bbox_stats

    res = geo_bbox_stats(_geo_docs(spark, sf_dir), *GEO_BBOX)
    return res.select(
        "group",
        "n_docs",
        F.round("avg_chars", 6).alias("avg_chars"),
    )


def q_percentile_ranks(spark, sf_dir):
    """ES percentile_ranks aggregation (exact tier): % of observed values
    <= each requested value, per event_type — one broadcast fan-out + one
    hash aggregate (operators/analytics.py::percentile_ranks)."""
    from defactonlp_spark.operators.analytics import percentile_ranks

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    res = percentile_ranks(ev, ["event_type"], "value", PCTRANK_VALUES)
    return res.select(
        "event_type",
        F.round("value", 6).alias("value"),
        F.round("pct", 6).alias("pct"),
    )


def q_matrix_stats(spark, sf_dir):
    """ES matrix_stats aggregation: per-returnflag covariance/correlation
    matrix over (l_quantity, l_discount, l_tax), from re-aggregable
    partials in one shuffle (operators/analytics.py::matrix_stats)."""
    from defactonlp_spark.operators.analytics import matrix_stats

    # the three fields carry 2 decimals: fed as round(x * 100) longs, every
    # partial is an integer-valued double sum below 2^53, exact in any
    # partition order; means scale back by 100, covariance by 10^4, and
    # correlation does not depend on scale
    fields = ["l_quantity", "l_discount", "l_tax"]
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cents = li.select("l_returnflag", *[F.round(F.col(f) * 100).cast("long").alias(f) for f in fields])
    res = matrix_stats(cents, ["l_returnflag"], fields)
    return res.select(
        "l_returnflag",
        "field_x",
        "field_y",
        "count",
        F.round(F.col("mean_x") / 100, 6).alias("mean_x"),
        F.round(F.col("mean_y") / 100, 6).alias("mean_y"),
        F.round(F.col("covariance") / 10000, 6).alias("covariance"),
        F.round("correlation", 6).alias("correlation"),
    )


def q_bucket_pipeline(spark, sf_dir):
    """The ES sibling-pipeline trio over a terms agg: bucket_script
    (avg_value), bucket_selector (HAVING avg > threshold), bucket_sort
    (order + size) — all on the metadata-scale bucket relation
    (operators/analytics.py::terms_bucket_pipeline)."""
    from defactonlp_spark.operators.analytics import terms_bucket_pipeline

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    res = terms_bucket_pipeline(ev, "event_type", "value", min_avg=BUCKET_MIN_AVG, size=10)
    return res.select(
        "bucket",
        "n_rows",
        F.round("sum_value", 4).alias("sum_value"),
        F.round("avg_value", 6).alias("avg_value"),
    )


GEO_RING_EDGES = [2000.0, 6000.0, 12000.0]
SAYT_PREFIXES = [(0, "merge", "t"), (1, "data", "s"), (2, "the", "q")]
SAYT_K = 5


def q_geo_distance_rings(spark, sf_dir):
    """ES geo_distance AGGREGATION: concentric distance rings around the
    query point -> per-ring doc count + avg size; ring assignment on
    round(dist, 6) so a libm ulp can never flip a boundary doc
    (operators/geo.py::geo_distance_rings)."""
    from defactonlp_spark.operators.geo import geo_distance_rings

    res = geo_distance_rings(_geo_docs(spark, sf_dir), GEO_QLAT, GEO_QLON, GEO_RING_EDGES)
    return res.select(
        "ring",
        "from_km",
        "to_km",
        "n_docs",
        F.round("avg_chars", 6).alias("avg_chars"),
    )


def q_weighted_avg(spark, sf_dir):
    """ES weighted_avg aggregation: per returnflag, discount weighted by
    quantity — two re-aggregable sums, one shuffle
    (operators/analytics.py::weighted_avg)."""
    from defactonlp_spark.operators.analytics import weighted_avg

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    res = weighted_avg(li, ["l_returnflag"], "l_discount", "l_quantity")
    return res.select(
        "l_returnflag", "n_rows", F.round("weighted_avg", 6).alias("weighted_avg")
    )


def q_search_as_you_type(spark, sf_dir):
    """ES search_as_you_type / match_bool_prefix at bigram granularity:
    fully-typed first word + partial second word -> top-k corpus bigram
    completions by frequency
    (operators/analytics.py::bigram_completion)."""
    from defactonlp_spark.operators.analytics import bigram_completion

    prefixes = spark.createDataFrame(
        SAYT_PREFIXES, "sugg_id long, first string, prefix string"
    )
    res = bigram_completion(_docs(spark, sf_dir), prefixes, k=SAYT_K)
    return res.select(
        "sugg_id",
        F.col("rank").cast("long").alias("rank"),
        "completion",
        "n_occurrences",
    )


def q_adjacency_matrix(spark, sf_dir):
    """ES adjacency_matrix aggregation: named term filters -> doc counts
    for every filter and pairwise intersection ("a", "a&b", ...), empty
    buckets dropped — one map-side flag projection + ONE global aggregate
    (operators/analytics.py::adjacency_matrix)."""
    from defactonlp_spark.operators.analytics import adjacency_matrix

    res = adjacency_matrix(_docs(spark, sf_dir), ADJ_FILTERS)
    return res.select("key", "doc_count")


# --------------------------------------------------------------------------
# contract functions
# --------------------------------------------------------------------------



# --- round-5 additions: ES agg breadth + BM25+ + training-mix QA ----------

TOPMETRICS_SIZE = 2
RARE_MAX_DF = 5
# events span 2024-01-01..2024-01-30 (epoch 1704067200..1706659200); the
# overlap range deliberately double-counts rows with mid/late — ES
# date_range buckets are independent, that is the semantics under test
DATE_RANGES = [
    ("early", None, 1704672000),
    ("mid", 1704672000, 1705536000),
    ("overlap", 1705104000, 1706140800),
    ("late", 1705536000, None),
]
DOMAIN_TARGET_MIX = {f"src{i}": (0.06 if i < 10 else 0.04) for i in range(20)}


def q_top_metrics(spark, sf_dir):
    """ES top_metrics: per event_type, the (value, user_id) metrics at the
    2 LATEST events (sort ts desc, ties on event_id) — keyed argmax
    (operators/analytics.py::top_metrics)."""
    from defactonlp_spark.operators.analytics import top_metrics

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    res = top_metrics(ev, "event_type", "ts", ["value", "user_id"],
                      size=TOPMETRICS_SIZE, tie_col="event_id")
    return res.select(
        "event_type", F.col("rank").cast("long").alias("rank"),
        "sort_value", F.round("value", 6).alias("value"), "user_id",
    )


def q_serial_diff_weekly(spark, sf_dir):
    """ES serial_diff pipeline agg: daily sum(value) buckets differenced
    against the bucket 7 steps earlier — week-over-week change
    (operators/analytics.py::serial_diff)."""
    from defactonlp_spark.operators.analytics import serial_diff

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    res = serial_diff(ev, lag=7, bucket_sec=86400)
    return res.select(
        "bucket_start",
        F.round("sum_value", 6).alias("sum_value"),
        F.round("serial_diff", 6).alias("serial_diff"),
    )


def q_rare_terms(spark, sf_dir):
    """ES rare_terms agg over the BIGRAM space: long-tail bigrams with
    df <= 5, first 100 by term asc. Bigrams, not unigrams, because the
    synthetic corpus has a closed 31-term vocabulary with min df = 25 —
    no unigram is ever rare at any sf; the bigram dictionary has a real
    Zipf tail at all three sfs (operators/analytics.py::rare_terms)."""
    from defactonlp_spark.operators.analytics import rare_terms, token_bigrams

    bg = (
        token_bigrams(_docs(spark, sf_dir), id_col="doc_id")
        .select("doc_id", F.concat_ws(" ", "w1", "w2").alias("term"))
        .distinct()
    )
    stats = bg.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    res = rare_terms(stats, max_doc_count=RARE_MAX_DF, limit=100)
    return res.select("term", F.col("df").cast("long").alias("df"))


def q_date_range_agg(spark, sf_dir):
    """ES date_range agg: explicit [from, to) buckets with open ends and a
    deliberate overlap (buckets are independent — a row multi-counts)
    (operators/analytics.py::date_range_agg)."""
    from defactonlp_spark.operators.analytics import date_range_agg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    res = date_range_agg(ev, DATE_RANGES)
    return res.select(
        "range_key", "from_sec", "to_sec", "doc_count",
        F.round("sum_value", 6).alias("sum_value"),
    )


def q_filters_agg(spark, sf_dir):
    """ES filters agg: named predicate buckets (type match, numeric gate,
    IN-set) with doc_count + avg(value), ONE scan / zero joins
    (operators/analytics.py::filters_agg)."""
    from defactonlp_spark.operators.analytics import filters_agg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    named = {
        "clicks": F.col("event_type") == "click",
        "high_value": F.col("value") > 100.0,
        "purchase_or_signup": F.col("event_type").isin("purchase", "signup"),
    }
    res = filters_agg(ev, named)
    return res.select(
        "bucket", "doc_count", F.round("avg_value", 6).alias("avg_value")
    )


def q_bm25_plus_topk(spark, sf_dir):
    """BM25+ (Lv & Zhai 2011): BM25 with the per-matched-term delta floor
    that stops very long docs scoring below non-matching ones
    (operators/lm.py::score_bm25_plus)."""
    from defactonlp_spark.operators.bm25 import claim_terms
    from defactonlp_spark.operators.lm import score_bm25_plus
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    res = score_bm25_plus(
        p, term_stats(p), claim_terms(_claims_df(spark)), n_docs, avgdl, k=TOPK
    )
    return res.select(
        "claim_id", F.col("rank").cast("long").alias("rank"), "doc_id",
        F.round("score", 4).alias("score"),
    )


def q_domain_mix_kl(spark, sf_dir):
    """Training-mix QA: per-source corpus share (n_chars mass) vs the
    recipe's target mixture, with per-source KL(actual || target)
    contributions (operators/analytics.py::domain_mix_kl)."""
    from defactonlp_spark.operators.analytics import domain_mix_kl

    res = domain_mix_kl(_docs(spark, sf_dir), DOMAIN_TARGET_MIX)
    return res.select(
        "source", "n_docs", F.round("mass", 6).alias("mass"),
        "actual_share", "target_share", "kl_contrib",
    )


def q_significant_text(spark, sf_dir):
    """ES significant_text: significant_terms over each claim's BM25
    top-20 hits with filter_duplicate_text ON — exact-duplicate hit texts
    vote once (operators/analytics.py::significant_text)."""
    from defactonlp_spark.operators.analytics import significant_text
    from defactonlp_spark.operators.bm25 import claim_terms, score_exhaustive
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    stats = term_stats(p)
    qt = claim_terms(_claims_df(spark))
    fg = score_exhaustive(p, stats, qt, n_docs, avgdl, k=SIGTERMS_FG_K,
                          rank_dp=6).select("claim_id", "doc_id")
    res = significant_text(
        _docs(spark, sf_dir), p, stats, fg, n_docs,
        k=10, min_fg_count=2, exclude=qt,
    )
    return res.select(
        "claim_id", F.col("rank").cast("long").alias("rank"),
        "term", "fg_count", "bg_count", "jlh",
    )


# --- round-5 wave 2: URL curation + stratified sampling + span_first ------

SPAN_FIRST_END = 25
BLOCKLIST_RULES = [
    # r1 exercises the subdomain-suffix match (blocks every *.example.com
    # host that r0 didn't already take), r0 an exact canonical host, r2 a
    # canonical-URL prefix; min(rule_id) pins first-match-wins overlaps.
    ("r0", "domain", "src3.example.com"),
    ("r1", "domain", "src5.org"),
    ("r2", "prefix", "http://src7.example.com/p/1"),
]
# recipe covers src0..src14 only — src15+ default to 0 (dropped), the
# explicit-recipe contract under test
STRATA_PERMILLE = {
    f"src{i}": (1000 if i < 3 else (300 if i < 10 else 50)) for i in range(15)
}


def _docs_with_dirty_url(spark, sf_dir):
    """documents + a deterministic DIRTY url column (mirrored verbatim in
    the DuckDB twin): groups of 4 consecutive doc_ids share one logical
    page, each id dressing it differently — bare, UPPERCASE host +
    default :443, www. + trailing slash + fragment, tracking params +
    unsorted query — so variants 0/1/2 canonicalize to the SAME key and
    variant 3 keeps its sorted real params. Exercises every rule of
    url_canonical_col at once."""
    d = _docs(spark, sf_dir)
    g = (F.col("doc_id") / 4).cast("long")
    v = F.col("doc_id") % 4
    hostn = (g % 97).cast("string")
    gs = g.cast("string")
    url = (
        F.when(v == 0, F.concat(F.lit("https://h"), hostn, F.lit(".example.com/a/"), gs))
        .when(v == 1, F.concat(F.lit("HTTPS://H"), hostn, F.lit(".EXAMPLE.COM:443/a/"), gs))
        .when(v == 2, F.concat(F.lit("https://www.h"), hostn, F.lit(".example.com/a/"), gs, F.lit("/#s2")))
        .otherwise(F.concat(F.lit("https://h"), hostn, F.lit(".example.com/a/"), gs, F.lit("?utm_source=feed&b=2&a=1")))
    )
    return d.select("doc_id", "source", "n_chars", url.alias("url"))


def q_url_canonical_dups(spark, sf_dir):
    """Canonical-URL duplicate groups (functions/urls.py::url_canonical_col
    + canonical_dup_groups): fragment/case/default-port/www/trailing-slash/
    tracking-param variants collapse to one key; keep-min doc_id. The
    DuckDB twin re-implements the normalizer independently, so the oracle
    cross-checks the canonicalization rules themselves."""
    from defactonlp_spark.functions.urls import canonical_dup_groups

    res = canonical_dup_groups(_docs_with_dirty_url(spark, sf_dir))
    return res.select("canonical_url", "n_variants", F.col("keep_id").cast("long").alias("keep_id"))


def q_url_blocklist_stats(spark, sf_dir):
    """URL blocklist audit (operators/curation.py::url_blocklist_filter):
    zero-shuffle literal-rule scan over canonical URLs (domain-suffix +
    prefix rules, first-match-wins), counts per winning rule plus the
    kept bucket."""
    from defactonlp_spark.operators.curation import url_blocklist_filter

    res = url_blocklist_filter(_docs_with_url(spark, sf_dir), BLOCKLIST_RULES)
    return (
        res.groupBy(F.coalesce(F.col("rule_id"), F.lit("(kept)")).alias("rule_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def q_stratified_sample_stats(spark, sf_dir):
    """Stratified deterministic sampling (operators/curation.py::
    stratified_sample): per-source md5-bucket gate at the recipe's
    permille; sources absent from the recipe drop to 0. Reports per-source
    sampled count, inverse-probability corrected estimate, avg chars."""
    from defactonlp_spark.operators.curation import stratified_sample

    s = stratified_sample(_docs(spark, sf_dir), STRATA_PERMILLE)
    rate = F.create_map(*[F.lit(x) for kv in STRATA_PERMILLE.items() for x in kv])
    return (
        s.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("avg_chars"),
        )
        .withColumn(
            "est_count",
            F.round(F.col("n_sampled") * 1000.0 / rate[F.col("source")], 6),
        )
        .select("source", "n_sampled", "est_count", "avg_chars")
    )


def q_span_first_topk(spark, sf_dir):
    """ES/Lucene span_first (operators/phrase.py::score_span_first): the
    phrase must sit entirely within the first SPAN_FIRST_END tokens
    (anchor trick + anchor+plen <= end), BM25 over the phrase terms.
    Oracle: LIKE containment over the doc's TRUNCATED first-end token
    string — span end <= end iff the phrase survives truncation."""
    from defactonlp_spark.operators.phrase import score_span_first
    from defactonlp_spark.operators.postings import term_stats

    p = _postings_cached(spark, sf_dir)
    n_docs, avgdl = _engine_corpus_stats(p)
    phrases = spark.createDataFrame(PHRASE_CLAIMS, "claim_id long, phrase string")
    res = score_span_first(
        p, term_stats(p), _tokens_cached(spark, sf_dir), phrases,
        n_docs, avgdl, end=SPAN_FIRST_END, k=TOPK,
    )
    return res.select("claim_id", "doc_id", F.round("score", 4).alias("score"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: WAND top-k over compressed segments on sf0.001."""
    return q_bm25_topk_wand(spark, "/root/testdata/sf0.001")


# ORDER MATTERS: the driver's correctness gate checks the FIRST 50
# ``queries()`` entries in dict order.  Round-5 window policy: the 34
# entries that have NEVER had a driver-green CORRECTNESS row (the round-4
# continuation waves that landed past the r04 window — the exact list is
# scripts/window_audit.py output, mirrored in VERDICT.md r4 "Next round"
# #1) are promoted to the front, plus 16 already-green core canaries
# (one per pipeline family: exhaustive/WAND BM25, merge, phrase,
# DrQA, sentence, RTE, FEVER submission, dedup/minhash/training funnel,
# TPC-H, cosine, corpus stats, term totals) so the driver re-verifies the
# spine every round.  CORRECTNESS_r05 ∪ r01..r04 then covers all 157
# entries — full driver coverage.  Entries past position 50 keep their
# older driver records; _REGISTRY order there is stable for bench replay.
_WINDOW_R5 = [
    # -- the 34 never-driver-checked entries (r4 continuation waves) ----
    "dfi_topk", "ib_spl_topk", "axiomatic_topk", "rrf_fusion_topk",
    "query_string_topk", "string_stats_by_lang", "value_mad",
    "value_boxplot", "ttest_purchase_click", "events_rate_daily",
    "multi_terms_agg", "auto_date_hist", "geo_centroid_bounds",
    "phrase_suggest", "semdedup_keep_stats", "frequent_item_sets",
    "ltr_rerank", "corpus_zipf", "heaps_growth", "ndcg_pruned",
    "bbq_ann_topk", "pinned_topk", "quality_linear_scores",
    "random_sampler_agg", "diversified_sample_stats", "ivf_ann_topk",
    "drqa_tfidf_topk_hashed", "geo_grid_agg", "geo_bbox_stats",
    "percentile_ranks", "matrix_stats", "adjacency_matrix",
    "geo_distance_rings", "weighted_avg_agg",
    # -- 12 round-5 additions (new surface — need their first driver row) --
    "top_metrics_agg", "serial_diff_weekly", "rare_terms", "date_range_agg",
    "filters_agg", "bm25_plus_topk", "domain_mix_kl", "significant_text",
    "url_canonical_dups", "url_blocklist_stats", "stratified_sample_stats",
    "span_first_topk",
    # -- round-5 additions (need their first correctness row; they took
    # three of the four canary slots — bm25_topk_wand (r03) / term_tf_totals
    # (r03) / fever_submission (r04) keep their green rows from older rounds) --
    "link_pagerank", "link_hits", "textrank_keywords",
    # -- canary: an already-green spine entry re-checked every round
    # (scripts/window_audit.py lists the window's canaries) --
    "bm25_topk",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    reg = _registry()
    assert len(_WINDOW_R5) == 50 and set(_WINDOW_R5) <= set(reg)
    return {
        **{k: reg[k] for k in _WINDOW_R5},
        **{k: v for k, v in reg.items() if k not in _WINDOW_R5},
    }


def _registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Full registry in historical (round-by-round) order; queries()
    # re-fronts the round-5 driver window on top of this.
    return {
        # -- round-4 late additions (never checked anywhere — first) ------
        "has_child_topk": q_has_child_topk,
        "has_parent_children": q_has_parent_children,
        "rank_feature_topk": q_rank_feature_topk,
        "events_pipeline_aggs": q_events_pipeline_aggs,
        "term_vectors": q_term_vectors,
        "extended_stats_by_type": q_extended_stats,
        "combined_fields_topk": q_combined_fields_topk,
        "phrase_prefix_topk": q_phrase_prefix_topk,
        "knn_filtered": q_knn_filtered,
        "composite_page2": q_composite_page2,
        "terms_set_topk": q_terms_set_topk,
        "cardinality_by_type": q_cardinality_by_type,
        "top_fragments": q_top_fragments,
        "multi_match_best_fields": q_multi_match_best_fields,
        "bm25_topk_msm": q_bm25_topk_msm,
        "dismax_topk": q_dismax_topk,
        "bm25_topk_boosting": q_bm25_topk_boosting,
        "bm25_explain": q_bm25_explain,
        "facet_top_hits": q_facet_top_hits,
        # -- round-4 additions (must land in the 50-entry driver window) --
        "wildcard_topk": q_wildcard_topk,
        "decontaminate_spans": q_decontaminate_spans,
        "span_near_topk": q_span_near_topk,
        "regex_topk": q_regex_topk,
        "bm25_topk_decay": q_bm25_topk_decay,
        "bm25_topk_rescored": q_bm25_topk_rescored,
        # -- never driver-checked (session-3 additions) -------------------
        "mmr_topk": q_mmr_topk,
        "more_like_this": q_more_like_this,
        "hybrid_similar": q_hybrid_similar,
        "spell_correct": q_spell_correct,
        "facet_counts": q_facet_counts,
        "bigram_pmi": q_bigram_pmi,
        "doc_keywords": q_doc_keywords,
        "chunk_dedup": q_chunk_dedup,
        "curation_keep_stats": q_curation_keep_stats,
        "stemmed_term_counts": q_stemmed_term_counts,
        "doc_repetition": q_doc_repetition,
        "pii_redact": q_pii_redact,
        "url_parse": q_url_parse,
        "domain_rollup": q_domain_rollup,
        # -- round-4 additions -------------------------------------------
        "ann_method_eval": q_ann_method_eval,
        "percolate_matches_v2": q_percolate_matches_v2,
        "fever_submission": q_fever_submission,
        # -- fully twinned since r4 (inlined deterministic hyperplanes):
        #    the twins are NEW, so they need a driver hash-check slot ------
        "lsh_ann_topk": q_lsh_ann_topk,
        "lsh_dup_pairs": q_lsh_dup_pairs,
        # -- round-4 final wave, promoted into the window: one per family
        #    (LM similarity x2, geo top-k, completion, pipeline aggs) — the
        #    r02-green entries they displace keep their r02 records --------
        "lm_jm_topk": q_lm_jm_topk,
        "dfr_inl2_topk": q_dfr_inl2_topk,
        "geo_distance_topk": q_geo_distance_topk,
        "search_as_you_type": q_search_as_you_type,
        "bucket_pipeline": q_bucket_pipeline,
        # --- round-4 continuation wave (post-window: round-5 candidates) ---
        "dfi_topk": q_dfi_topk,
        "ib_spl_topk": q_ib_spl_topk,
        "axiomatic_topk": q_axiomatic_topk,
        "rrf_fusion_topk": q_rrf_fusion_topk,
        "query_string_topk": q_query_string_topk,
        "string_stats_by_lang": q_string_stats,
        "value_mad": q_value_mad,
        "value_boxplot": q_value_boxplot,
        "ttest_purchase_click": q_ttest_purchase_click,
        "events_rate_daily": q_events_rate_daily,
        "multi_terms_agg": q_multi_terms_agg,
        "auto_date_hist": q_auto_date_hist,
        "geo_centroid_bounds": q_geo_centroid_bounds,
        "phrase_suggest": q_phrase_suggest,
        "semdedup_keep_stats": q_semdedup_keep_stats,
        "frequent_item_sets": q_frequent_item_sets,
        "ltr_rerank": q_ltr_rerank,
        "corpus_zipf": q_corpus_zipf,
        "heaps_growth": q_heaps_growth,
        "ndcg_pruned": q_ndcg_pruned,
        "bbq_ann_topk": q_bbq_ann_topk,
        "pinned_topk": q_pinned_topk,
        "quality_linear_scores": q_quality_linear,
        "random_sampler_agg": q_random_sampler_agg,
        "diversified_sample_stats": q_diversified_sample_stats,
        # ==== 50-entry window boundary: everything below keeps an older
        # driver record or waits for the round-5 window ====================
        # -- stale (last green in r02) ------------------------------------
        "simhash": q_simhash,
        "cosine_topk": q_cosine_topk,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "title_match": q_title_match,
        "candidate_union": q_candidate_union,
        "drqa_tfidf_topk": q_drqa_tfidf_topk,
        "sentence_chunks": q_sentence_chunks,
        "sentence_topk": q_sentence_topk,
        "fever_eval": q_fever_eval,
        "rte_label_agg": q_rte_label_agg,
        "simhash_pairs": q_simhash_pairs,
        "doc_split_counts": q_doc_split_counts,
        "bpe_token_counts": q_bpe_token_counts,
        "source_stats": q_source_stats,
        "revenue_cube": q_revenue_cube,
        "media_features": q_media_features,
        "latest_event_per_user": q_latest_event_per_user,
        "event_sessions": q_event_sessions,
        "value_percentiles": q_value_percentiles,
        # -- r02-green trivial aggregates demoted to make window room for
        #    the newly-twinned LSH rows above -----------------------------
        "doc_fingerprint": q_doc_fingerprint,
        "token_counts": q_token_counts,
        # -- rows-only by design (learned k-means / murmur3 — no twin) ----
        "ivf_ann_topk": q_ivf_ann_topk,
        "link_pagerank": q_link_pagerank,
        "link_hits": q_link_hits,
        "textrank_keywords": q_textrank_keywords,
        "drqa_tfidf_topk_hashed": q_drqa_tfidf_topk_hashed,
        # -- round-4 FINAL wave remainder (past the 50-entry boundary; the
        #    window's slots all hold never-checked entries — promote these
        #    into the round-5 window) ---------------------------------------
        "geo_grid_agg": q_geo_grid_agg,
        "geo_bbox_stats": q_geo_bbox_stats,
        "percentile_ranks": q_percentile_ranks,
        "matrix_stats": q_matrix_stats,
        "adjacency_matrix": q_adjacency_matrix,
        "geo_distance_rings": q_geo_distance_rings,
        "weighted_avg_agg": q_weighted_avg,
        # -- fresh green rows in CORRECTNESS_r03 --------------------------
        "term_tf_totals": q_term_tf_totals,
        "bm25_topk": q_bm25_topk,
        "bm25_topk_wand": q_bm25_topk_wand,
        "corpus_stats": q_corpus_stats,
        "bm25_topk_collapsed": q_bm25_topk_collapsed,
        "bm25_topk_conjunctive": q_bm25_topk_conjunctive,
        "lm_dirichlet_topk": q_lm_dirichlet_topk,
        "lm_dirichlet_indexed": q_lm_dirichlet_indexed,
        "sq8_cosine_topk": q_sq8_cosine_topk,
        "bm25_topk_fuzzy": q_bm25_topk_fuzzy,
        "bm25_topk_fuzzy_symspell": q_bm25_topk_fuzzy_symspell,
        "packed_sequences": q_packed_sequences,
        "best_passage": q_best_passage,
        "dedup_method_eval": q_dedup_method_eval,
        "bm25f_topk": q_bm25f_topk,
        "bm25_topk_page2": q_bm25_topk_page2,
        "significant_terms": q_significant_terms,
        "query_clarity": q_query_clarity,
        "pruned_rbo": q_pruned_rbo,
        "dup_spans": q_dup_spans,
        "percolate_matches": q_percolate_matches,
        "ltr_features": q_ltr_features,
        "value_histogram": q_value_histogram,
        "doc_perplexity": q_doc_perplexity,
        "bm25_topk_pruned": q_bm25_topk_pruned,
        "bm25_topk_boosted": q_bm25_topk_boosted,
        "bm25_topk_boolean": q_bm25_topk_boolean,
        "bm25_topk_rm3": q_bm25_topk_rm3,
        "bm25_topk_synonyms": q_bm25_topk_synonyms,
        "bm25_topk_wand_deletes": q_bm25_topk_wand_deletes,
        "bm25_topk_merged": q_bm25_topk_merged,
        "bm25_topk_filtered": q_bm25_topk_filtered,
        "phrase_topk": q_phrase_topk,
        "phrase_snippets": q_phrase_snippets,
        "term_suggest": q_term_suggest,
        "proximity_topk": q_proximity_topk,
        "tpch_q1": q_tpch_q1,
        "top_customers_by_segment": q_top_customers_by_segment,
        "events_hourly": q_events_hourly,
        "orders_running_total": q_orders_running_total,
        "revenue_rollup": q_revenue_rollup,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_ngram_jaccard_capped": q_dedup_ngram_jaccard_capped,
        "dedup_clusters": q_dedup_clusters,
        "training_mix_stats": q_training_mix_stats,
        "decontaminate": q_decontaminate,
        "training_pipeline_stats": q_training_pipeline_stats,
        "minhash_signatures": q_minhash_signatures,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        # -- round-5 additions (ES agg breadth + BM25+ + training-mix QA) --
        "top_metrics_agg": q_top_metrics,
        "serial_diff_weekly": q_serial_diff_weekly,
        "rare_terms": q_rare_terms,
        "date_range_agg": q_date_range_agg,
        "filters_agg": q_filters_agg,
        "bm25_plus_topk": q_bm25_plus_topk,
        "domain_mix_kl": q_domain_mix_kl,
        "significant_text": q_significant_text,
        # -- round-5 wave 2 (URL curation + stratified sampling + span_first) --
        "url_canonical_dups": q_url_canonical_dups,
        "url_blocklist_stats": q_url_blocklist_stats,
        "stratified_sample_stats": q_stratified_sample_stats,
        "span_first_topk": q_span_first_topk,
    }


_LM_DIRICHLET_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
tot AS (SELECT sum(dl) AS t FROM dl),
ctf AS (SELECT term, sum(tf)::DOUBLE AS ctf FROM postings GROUP BY 1),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
q AS (SELECT qt.claim_id, qt.term, c.ctf FROM qterms qt JOIN ctf c ON c.term = qt.term),
nq AS (SELECT claim_id, count(*)::DOUBLE AS n_q_in FROM q GROUP BY 1),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum(ln(1 + p.tf / ({LM_MU} * q.ctf / t.t))) AS tsum,
         min(l.dl) AS dl
  FROM q JOIN postings p ON p.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN tot t
  GROUP BY 1, 2
),
final AS (
  SELECT s.claim_id, s.doc_id,
         s.tsum + n.n_q_in * ln({LM_MU} / (s.dl + {LM_MU})) AS score
  FROM scored s JOIN nq n ON n.claim_id = s.claim_id
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rn FROM final)
WHERE rn <= {TOPK}
"""


_FUZZY_CLAIMS_SQL = "(VALUES (0, 'qery vektor tble'), (1, 'scann filtr'), (2, 'jion hassh'), (3, 'data merge'))"


def oracle_sql() -> dict[str, str]:
    toks = _TOKS_SQL
    sh = (
        "SELECT doc_id, unnest(list_distinct([array_to_string(toklist[i:i+2], ' ') "
        "FOR i IN range(1, len(toklist) - 1)])) AS sh FROM "
        "(SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), "
        "t -> t <> '') AS toklist FROM documents) WHERE len(toklist) >= 3"
    )
    from defactonlp_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    # one md5 per shingle -> 32-bit h -> 16 Carter-Wegman permutations;
    # same constants as the engine (int64-safe: A <= 2^30, h < 2^32)
    mh_h = "(('0x' || substr(md5(sh), 1, 8))::BIGINT)"
    mh_cols = ", ".join(
        f"min(({MINHASH_A[i]}*{mh_h} + {MINHASH_B[i]}) % {MINHASH_P}) AS mh_{i}"
        for i in range(16)
    )
    stop_list = "['the', 'a', 'and', 'of', 'to', 'in', 'is', 'it', 'for', 'on']"

    # per-doc curation gate as reusable CTEs ending in cur(doc_id, lang, keep)
    # — consumed standalone by curation_keep_stats and as stage 1 of the
    # end-to-end training_pipeline_stats twin
    curation_ctes = """base AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toklist,
         length(text)::BIGINT AS n_chars,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE AS alpha,
         list_filter(str_split(text, chr(10)), l -> l <> '') AS lines
  FROM documents
),
feat AS (
  SELECT doc_id, lang, len(toklist)::BIGINT AS n_tokens,
         CASE WHEN len(toklist) > 0
              THEN len(list_filter(toklist, t -> list_contains({stop_list}, t)))::DOUBLE / len(toklist)
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_chars > 0 THEN alpha / n_chars ELSE 0.0 END AS alpha_ratio,
         CASE WHEN len(lines) > 0
              THEN round((len(lines) - len(list_distinct(lines))) / len(lines)::DOUBLE, 6)
              ELSE 0.0 END AS dup_line_frac
  FROM base
),
q AS (
  SELECT doc_id, lang, n_tokens, dup_line_frac,
         round(CASE WHEN n_tokens < 5 THEN 0.0
               ELSE least(greatest(alpha_ratio * (1.0 - greatest(stop_ratio - 0.5, 0.0)), 0.0), 1.0)
               END, 6) AS quality
  FROM feat
),
big AS (
  SELECT doc_id, toklist[i] || ' ' || toklist[i+1] AS g
  FROM base, unnest(generate_series(1, len(toklist) - 1)) AS t(i)
  WHERE len(toklist) >= 2
),
bigc AS (
  SELECT doc_id, max(c)::DOUBLE / sum(c)::DOUBLE AS top_bigram_raw
  FROM (SELECT doc_id, g, count(*) AS c FROM big GROUP BY 1, 2) GROUP BY 1
),
g5 AS (
  SELECT doc_id, toklist[i] || ' ' || toklist[i+1] || ' ' || toklist[i+2] || ' ' ||
         toklist[i+3] || ' ' || toklist[i+4] AS g
  FROM base, unnest(generate_series(1, len(toklist) - 4)) AS t(i)
  WHERE len(toklist) >= 5
),
g5c AS (
  SELECT doc_id, sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::DOUBLE / sum(c)::DOUBLE AS dup5_raw
  FROM (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1, 2) GROUP BY 1
),
cur AS (
  SELECT q.doc_id, q.lang,
         (q.n_tokens >= 5 AND q.n_tokens <= 100000
          AND q.quality >= 0.05
          AND coalesce(round(g5c.dup5_raw, 6), 0.0) <= 0.6
          AND coalesce(round(bigc.top_bigram_raw, 6), 0.0) <= 0.6
          AND q.dup_line_frac <= 0.5) AS keep
  FROM q LEFT JOIN bigc USING (doc_id) LEFT JOIN g5c USING (doc_id)
)""".format(stop_list=stop_list)

    markers = {
        "en": "['the','and','of','to','is']",
        "fr": "['le','la','et','les','des']",
        "es": "['el','de','que','los','las']",
        "de": "['der','die','und','das','ist']",
    }
    hexval = (
        "(strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096 + "
        "(strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256 + "
        "(strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 + "
        "(strpos('0123456789abcdef', substr(h, 4, 1)) - 1)"
    )
    simhash_bits = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h_int >> {j}) & 1 = 1 THEN tf ELSE -tf END) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(16)
    )
    simhash_body = f"""toks AS ({toks}),
            tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
            hx AS (SELECT doc_id, tf, substr(md5(term), 1, 4) AS h FROM tf),
            hi AS (SELECT doc_id, tf, {hexval} AS h_int FROM hx),
            sim AS (SELECT doc_id::BIGINT AS doc_id, ({simhash_bits})::BIGINT AS simhash
                    FROM hi GROUP BY doc_id)"""

    fp_cols = ", ".join(
        "list_aggregate([substr(md5(concat('%d:', g)), 1, 8) FOR g IN grams], 'min') AS fp_%d"
        % (i, i)
        for i in range(4)
    )

    d = {
        "term_tf_totals": f"""
            WITH toks AS ({toks})
            SELECT term, count(*)::BIGINT AS total_tf, count(DISTINCT doc_id)::BIGINT AS df
            FROM toks GROUP BY term
        """,
        "corpus_stats": f"""
            WITH toks AS ({toks}), dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY 1)
            SELECT count(*)::BIGINT AS n_docs, round(avg(dl), 6) AS avgdl, sum(dl)::BIGINT AS total_tokens
            FROM dl
        """,
        "bm25_topk": _BM25_CORE_SQL,
        "bm25_topk_collapsed": f"""
            WITH toks AS ({_TOKS_SQL}),
            postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
            dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
            stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
            dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
            claims(claim_id, claim) AS {_CLAIMS_SQL},
            qterms AS (
              SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
                '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
            ),
            scored AS (
              SELECT q.claim_id, p.doc_id,
                     sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
                          * p.tf * {K1 + 1.0}
                          / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
              FROM qterms q
              JOIN postings p ON p.term = q.term
              JOIN dfreq d ON d.term = q.term
              JOIN dl l ON l.doc_id = p.doc_id
              CROSS JOIN stats s
              GROUP BY 1, 2
            ),
            g AS (
              SELECT s.claim_id, s.doc_id, s.score, d.source
              FROM scored s JOIN documents d ON d.doc_id = s.doc_id
            ),
            best AS (
              SELECT claim_id, doc_id, score, source
              FROM (SELECT *, row_number() OVER (PARTITION BY claim_id, source
                       ORDER BY round(score, 6) DESC, doc_id) AS grn FROM g)
              WHERE grn = 1
            )
            SELECT claim_id::BIGINT AS claim_id, rank::BIGINT AS rank,
                   doc_id::BIGINT AS doc_id, source, round(score, 4) AS score
            FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
                     ORDER BY round(score, 6) DESC, doc_id) AS rank FROM best)
            WHERE rank <= {TOPK}
        """,
        "bm25_topk_wand": _BM25_CORE_SQL,
        "bm25_topk_conjunctive": _bm25_sql(_TOKS_SQL, _CLAIMS_SQL, TOPK, conjunctive=True),
        "lm_dirichlet_topk": _LM_DIRICHLET_SQL,
        "lm_dirichlet_indexed": _LM_DIRICHLET_SQL,
        "doc_perplexity": f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
tot AS (SELECT sum(dl) AS t FROM dl),
ctf AS (SELECT term, sum(tf)::DOUBLE AS ctf FROM postings GROUP BY 1),
per AS (
  SELECT p.doc_id, min(l.dl)::BIGINT AS n_tokens,
         round(-sum(p.tf * ln(c.ctf / t.t)) / min(l.dl), 6) AS cross_entropy
  FROM postings p
  JOIN ctf c ON c.term = p.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN tot t
  GROUP BY 1
)
SELECT doc_id::BIGINT AS doc_id, n_tokens, cross_entropy,
       round(exp(cross_entropy), 4) AS ppl
FROM per
""",
        "bm25_topk_pruned": f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
impacts AS (
  SELECT p.term, p.doc_id, p.tf,
         round( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
                * p.tf * {K1 + 1.0}
                / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)), 6) AS impact
  FROM postings p
  JOIN dfreq d ON d.term = p.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
),
pruned AS (
  SELECT term, doc_id, tf
  FROM (SELECT *, row_number() OVER (PARTITION BY term
          ORDER BY impact DESC, doc_id) AS prn FROM impacts)
  WHERE prn <= {PRUNE_KEEP_N}
),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM qterms q
  JOIN pruned p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY score DESC, doc_id) AS rn FROM scored)
WHERE rn <= {TOPK}
""",
        "bm25_topk_boosted": f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
qbase AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toklist,
         length(text)::BIGINT AS n_chars,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE AS alpha
  FROM documents
),
qfeat AS (
  SELECT doc_id, len(toklist)::BIGINT AS n_tokens,
         CASE WHEN len(toklist) > 0
              THEN len(list_filter(toklist, t -> list_contains({{stop_list}}, t)))::DOUBLE / len(toklist)
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_chars > 0 THEN alpha / n_chars ELSE 0.0 END AS alpha_ratio
  FROM qbase
),
boosts AS (
  SELECT doc_id,
         round(0.5 + round(CASE WHEN n_tokens < 5 THEN 0.0
               ELSE least(greatest(alpha_ratio * (1.0 - greatest(stop_ratio - 0.5, 0.0)), 0.0), 1.0)
               END, 6), 6) AS boost
  FROM qfeat
),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS bm25
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
final AS (
  SELECT s.claim_id, s.doc_id, s.bm25, s.bm25 * b.boost AS score
  FROM scored s JOIN boosts b ON b.doc_id = s.doc_id
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id,
       round(bm25, 4) AS bm25, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rn FROM final)
WHERE rn <= {TOPK}
""".format(stop_list=stop_list),
        "bm25_topk_boolean": _BOOL_SQL,
        "bm25_topk_msm": _bool_sql_for(_MSM_VALUES, msm=MSM),
        "dismax_topk": _DISMAX_SQL,
        "bm25_topk_boosting": _BOOSTING_SQL,
        "bm25_explain": _EXPLAIN_SQL,
        "facet_top_hits": _TOPHITS_SQL,
        # combined_fields: tf and dl both weight-merged (lead 2x), one
        # shared b/k1 BM25 over the virtual merged field; any-field df
        "combined_fields_topk": f"""
WITH tl AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS t FROM documents
),
tokpos AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS term
  FROM tl, unnest(range(1, len(t) + 1)) AS u(i)
),
ftoks AS (
  SELECT doc_id, CASE WHEN pos < {BM25F_LEAD_N} THEN 'lead' ELSE 'body' END AS field, term
  FROM tokpos
),
ftf AS (SELECT doc_id, field, term, count(*)::BIGINT AS tf FROM ftoks GROUP BY 1, 2, 3),
fdl AS (SELECT doc_id, field, count(*)::BIGINT AS dl_f FROM ftoks GROUP BY 1, 2),
dlc AS (
  SELECT doc_id, sum((CASE field WHEN 'lead' THEN 2.0 ELSE 1.0 END) * dl_f) AS dl_c
  FROM fdl GROUP BY 1
),
cstats AS (SELECT count(*)::DOUBLE AS n, avg(dl_c) AS avgdl_c FROM dlc),
dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM ftoks GROUP BY 1),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
tfc AS (
  SELECT q.claim_id, f.doc_id, f.term,
         sum((CASE f.field WHEN 'lead' THEN 2.0 ELSE 1.0 END) * f.tf) AS tf_c
  FROM qterms q JOIN ftf f ON f.term = q.term
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT t.claim_id, t.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * t.tf_c * {K1 + 1.0}
              / (t.tf_c + {K1} * ({1.0 - B} + {B} * l.dl_c / s.avgdl_c)) ) AS score
  FROM tfc t
  JOIN dfreq d ON d.term = t.term
  JOIN dlc l ON l.doc_id = t.doc_id
  CROSS JOIN cstats s
  GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rn FROM scored)
WHERE rn <= {TOPK}
""",
        # match_phrase_prefix: dictionary expansion of the last token
        # (df desc, term asc, cap {PHRASE_PREFIX_MAX_EXP}), containment of
        # 'fixed... expansion' over normalized token strings, BM25 over
        # the expanded distinct set restricted to matching docs
        "phrase_prefix_topk": f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, phrase) AS {"(VALUES " + ", ".join(f"({i}, '{p}')" for i, p in PHRASE_PREFIX_CLAIMS) + ")"},
ptoks AS (
  SELECT claim_id, list_filter(regexp_split_to_array(lower(phrase), '[^a-z0-9]+'),
                               t -> t <> '') AS t FROM claims
),
parts AS (
  SELECT claim_id,
         -- t[1:0] slices to NULL in DuckDB, not []: coalesce pins the
         -- single-token (pure-prefix) phrase to an empty fixed part
         coalesce(array_to_string(t[1:len(t)-1], ' '), '') AS fixed,
         t[len(t)] AS prefix
  FROM ptoks
),
exp AS (
  SELECT claim_id, term FROM (
    SELECT p.claim_id, d.term,
           row_number() OVER (PARTITION BY p.claim_id
                              ORDER BY d.df DESC, d.term) AS rk
    FROM parts p JOIN dfreq d ON d.term LIKE p.prefix || '%'
  ) WHERE rk <= {PHRASE_PREFIX_MAX_EXP}
),
docstr AS (
  SELECT doc_id, ' ' || array_to_string(list_filter(regexp_split_to_array(lower(text),
    '[^a-z0-9]+'), t -> t <> ''), ' ') || ' ' AS s FROM documents
),
matches AS (
  SELECT DISTINCT p.claim_id, d.doc_id
  FROM parts p
  JOIN exp e ON e.claim_id = p.claim_id
  JOIN docstr d ON d.s LIKE
    '% ' || (CASE WHEN p.fixed = '' THEN '' ELSE p.fixed || ' ' END) || e.term || ' %'
),
qterms AS (
  SELECT DISTINCT claim_id, term FROM (
    SELECT claim_id, unnest(t[1:len(t)-1]) AS term FROM ptoks
    UNION ALL
    SELECT claim_id, term FROM exp
  )
),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  JOIN matches m ON m.claim_id = q.claim_id AND m.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rn FROM scored)
WHERE rn <= {TOPK}
""",
        # pre-filtered exact knn: candidates restricted to label=1 BEFORE
        # the top-k; query vectors from the unfiltered relation
        "knn_filtered": f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
           WHERE vec_id IN ({", ".join(str(i) for i in KNN_QUERY_IDS)})),
scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(q.qvec::DOUBLE[], e.embedding::DOUBLE[])
               / (sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[]))
                  * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6) AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id AND e.label = {KNN_FILTER_LABEL}
)
SELECT query_id::BIGINT AS query_id, rank::INTEGER AS rank, vec_id::BIGINT AS vec_id, cos
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      FROM scored)
WHERE rank <= 10
""",
        # terms_set: per-doc minimum_should_match (required = doc_id%3+1,
        # floored at 1), distinct matched terms vs threshold, BM25 sum
        "terms_set_topk": f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score,
         count(*)::BIGINT AS n_matched
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
ok AS (
  SELECT s.claim_id, s.doc_id, s.score
  FROM scored s JOIN documents dd ON dd.doc_id = s.doc_id
  WHERE s.n_matched >= greatest(dd.doc_id % 3 + 1, 1)
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rn FROM ok)
WHERE rn <= {TOPK}
""",
        # multi_match best_fields: each field its own BM25 index (per-field
        # df/N/avgdl), boosted, dis_max-combined per doc with tie_breaker
        "multi_match_best_fields": f"""
WITH tl AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS t FROM documents
),
tokpos AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS term
  FROM tl, unnest(range(1, len(t) + 1)) AS u(i)
),
ftoks AS (
  SELECT doc_id, CASE WHEN pos < {BM25F_LEAD_N} THEN 'lead' ELSE 'body' END AS field, term
  FROM tokpos
),
ftf AS (SELECT doc_id, field, term, count(*)::BIGINT AS tf FROM ftoks GROUP BY 1, 2, 3),
fdl AS (SELECT doc_id, field, count(*)::BIGINT AS dl_f FROM ftoks GROUP BY 1, 2),
fstats AS (SELECT field, count(*)::DOUBLE AS n_f, avg(dl_f) AS avgdl_f FROM fdl GROUP BY 1),
fdf AS (SELECT field, term, count(DISTINCT doc_id)::DOUBLE AS df_f FROM ftoks GROUP BY 1, 2),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
per_field AS (
  SELECT q.claim_id, f.doc_id, f.field,
         (CASE f.field WHEN 'lead' THEN 2.0 ELSE 1.0 END)
         * sum( ln(1 + (s.n_f - d.df_f + 0.5) / (d.df_f + 0.5))
                * f.tf * {K1 + 1.0}
                / (f.tf + {K1} * ({1.0 - B} + {B} * l.dl_f / s.avgdl_f)) ) AS fscore
  FROM qterms q
  JOIN ftf f ON f.term = q.term
  JOIN fdf d ON d.term = q.term AND d.field = f.field
  JOIN fdl l ON l.doc_id = f.doc_id AND l.field = f.field
  JOIN fstats s ON s.field = f.field
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT claim_id, doc_id,
         max(fscore) + {MM_TIE_BREAKER} * (sum(fscore) - max(fscore)) AS score
  FROM per_field GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rn FROM scored)
WHERE rn <= {TOPK}
""",
        # multi-fragment highlighter: frag1 = best window, frag2 = best
        # window >= a window-width away (greedy, same tie rule)
        "top_fragments": f"""
WITH tl AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS t FROM documents
),
tokpos AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS term
  FROM tl, unnest(range(1, len(t) + 1)) AS u(i)
),
toks AS (SELECT doc_id, term FROM tokpos),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
scope AS (
  SELECT claim_id, doc_id
  FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
          ORDER BY score DESC, doc_id) AS rn FROM scored)
  WHERE rn <= {PASSAGE_SCOPE_K}
),
occ AS (
  SELECT q.claim_id, tk.doc_id, tk.pos, tk.term
  FROM qterms q
  JOIN tokpos tk USING (term)
  JOIN scope s ON s.claim_id = q.claim_id AND s.doc_id = tk.doc_id
),
wins AS (
  SELECT a.claim_id, a.doc_id, a.pos AS start_pos,
         count(DISTINCT b.term)::BIGINT AS n_terms, count(*)::BIGINT AS n_hits
  FROM occ a JOIN occ b
    ON b.claim_id = a.claim_id AND b.doc_id = a.doc_id
   AND b.pos BETWEEN a.pos AND a.pos + {PASSAGE_W - 1}
  GROUP BY 1, 2, 3
),
f1 AS (
  SELECT claim_id, doc_id, start_pos, n_terms, n_hits
  FROM (SELECT *, row_number() OVER (PARTITION BY claim_id, doc_id
          ORDER BY n_terms DESC, n_hits DESC, start_pos) AS rk FROM wins)
  WHERE rk = 1
),
f2 AS (
  SELECT claim_id, doc_id, start_pos, n_terms, n_hits
  FROM (SELECT w.*, row_number() OVER (PARTITION BY w.claim_id, w.doc_id
          ORDER BY w.n_terms DESC, w.n_hits DESC, w.start_pos) AS rk
        FROM wins w JOIN f1 ON f1.claim_id = w.claim_id AND f1.doc_id = w.doc_id
        WHERE abs(w.start_pos - f1.start_pos) >= {PASSAGE_W})
  WHERE rk = 1
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, 1 AS frag,
       start_pos::BIGINT AS start_pos, n_terms, n_hits FROM f1
UNION ALL
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, 2 AS frag,
       start_pos::BIGINT AS start_pos, n_terms, n_hits FROM f2
""",
        # cardinality, exact tier: two-phase distinct-then-count
        "cardinality_by_type": """
SELECT event_type, count(DISTINCT user_id)::BIGINT AS distinct_count
FROM events GROUP BY 1
""",
        # composite agg page 2: after-key paging must equal the bucket-rank
        # slice [{COMPOSITE_PAGE}+1, 2*{COMPOSITE_PAGE}] in key order
        "composite_page2": f"""
WITH buckets AS (
  SELECT source, lang, count(*)::BIGINT AS doc_count, sum(n_chars)::BIGINT AS chars_sum
  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
  GROUP BY 1, 2
),
rk AS (SELECT *, row_number() OVER (ORDER BY source, lang) AS rn FROM buckets)
SELECT source, lang, doc_count, chars_sum
FROM rk WHERE rn > {COMPOSITE_PAGE} AND rn <= {2 * COMPOSITE_PAGE}
""",
        "bm25_topk_synonyms": f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
syns(term, variant) AS (VALUES {", ".join(f"('{t}', '{v}')" for t, v in SYNONYMS)}),
wterms AS (
  SELECT claim_id, term, max(weight) AS weight FROM (
    SELECT claim_id, term, 1.0 AS weight FROM qterms
    UNION ALL
    SELECT q.claim_id, s.variant AS term, {SYN_WEIGHT} AS weight
    FROM qterms q JOIN syns s ON s.term = q.term
  ) GROUP BY 1, 2
),
scored AS (
  SELECT w.claim_id, p.doc_id,
         sum( w.weight * ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM wterms w
  JOIN postings p ON p.term = w.term
  JOIN dfreq d ON d.term = w.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rn FROM scored)
WHERE rn <= {TOPK}
""",
        "bm25_topk_rm3": _RM3_SQL.format(
            claims=_CLAIMS_SQL, fb_docs=RM3_FB_DOCS, fb_terms=RM3_FB_TERMS,
            alpha=RM3_ALPHA, one_minus_alpha=1.0 - RM3_ALPHA, k=TOPK,
        ),
        "bm25_topk_wand_deletes": _bm25_sql(
            _TOKS_SQL, _CLAIMS_SQL, TOPK, mask_sql="p.doc_id % 5 <> 0"
        ),
        "bm25_topk_merged": _BM25_CORE_SQL,
        "bm25_topk_filtered": _bm25_sql(
            _TOKS_SQL, _CLAIMS_SQL, TOPK,
            mask_sql="p.doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')",
        ),
        "phrase_topk": _PHRASE_SQL,
        "phrase_snippets": _SNIPPET_SQL,
        "proximity_topk": _PROX_SQL,
        "term_suggest": f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM postings GROUP BY 1),
prefixes(prefix) AS (VALUES {", ".join(f"('{p}')" for (p,) in SUGGEST_PREFIXES)})
SELECT prefix, rank, term, df
FROM (SELECT p.prefix, d.term, d.df,
             row_number() OVER (PARTITION BY p.prefix
                                ORDER BY d.df DESC, d.term) AS rank
      FROM prefixes p JOIN dfreq d ON d.term LIKE p.prefix || '%')
WHERE rank <= 5
""",
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*)::BIGINT AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_customers_by_segment": """
            WITH spend AS (
              SELECT c.c_custkey, c.c_mktsegment, round(sum(o.o_totalprice), 2) AS total_spend
              FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              GROUP BY 1, 2
            )
            SELECT c_mktsegment, rnk::BIGINT AS rnk, c_custkey::BIGINT AS c_custkey, total_spend
            FROM (SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                     ORDER BY total_spend DESC, c_custkey) AS rnk FROM spend)
            WHERE rnk <= 3
        """,
        "events_hourly": """
            SELECT event_type,
                   CAST(date_trunc('hour', ts) AS VARCHAR) AS hour,
                   count(*)::BIGINT AS n,
                   round(avg(value), 6) AS avg_value,
                   sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k
            FROM events
            GROUP BY 1, 2
        """,
        "orders_running_total": """
            SELECT o_custkey::BIGINT AS o_custkey, o_orderkey::BIGINT AS o_orderkey,
                   round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
            FROM orders
        """,
        "revenue_rollup": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_md5, min(doc_id)::BIGINT AS rep_id, count(*)::BIGINT AS n_dups
            FROM documents GROUP BY 1
        """,
        "dedup_ngram_jaccard": f"""
            WITH sh AS ({sh}),
            sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY 1),
            shared AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS shared
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b, shared,
                   round(shared / (sa.sz + sb.sz - shared), 6) AS jaccard
            FROM shared
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE round(shared / (sa.sz + sb.sz - shared), 6) >= 0.2
        """,
        "dedup_ngram_jaccard_capped": f"""
            WITH sh AS ({sh}),
            sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY 1),
            keep AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 2),
            joinable AS (SELECT s.doc_id, s.sh FROM sh s JOIN keep k ON s.sh = k.sh),
            shared AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS shared
              FROM joinable a JOIN joinable b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b, shared,
                   round(shared / (sa.sz + sb.sz - shared), 6) AS jaccard
            FROM shared
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE round(shared / (sa.sz + sb.sz - shared), 6) >= 0.1
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE sh AS ({sh}),
            sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY 1),
            shared AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS shared
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            pairs AS (
              SELECT id_a, id_b FROM shared
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
              WHERE round(shared / (sa.sz + sb.sz - shared), 6) >= 0.2
            ),
            edges AS (
              SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ),
            reach(id, r) AS (
              SELECT a, a FROM edges
              UNION
              SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
            ),
            comp AS (SELECT id, min(r) AS component_id FROM reach GROUP BY id)
            SELECT d.doc_id::BIGINT AS doc_id,
                   coalesce(c.component_id, d.doc_id)::BIGINT AS component_id,
                   coalesce(c.component_id, d.doc_id) = d.doc_id AS keep
            FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        """,
        "decontaminate": f"""
            WITH sh AS ({sh}),
            ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
            hits AS (
              SELECT s.doc_id, count(*)::BIGINT AS n_hits
              FROM sh s JOIN ev ON s.sh = ev.sh GROUP BY 1
            )
            SELECT d.doc_id::BIGINT AS doc_id,
                   coalesce(h.n_hits, 0)::BIGINT AS n_hits,
                   coalesce(h.n_hits, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        """,
        "training_pipeline_stats": f"""
            WITH RECURSIVE {curation_ctes},
            s1 AS (
              SELECT d.doc_id, d.source, d.text
              FROM documents d JOIN cur USING (doc_id) WHERE cur.keep
            ),
            tok1 AS (
              SELECT doc_id, source,
                     list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toklist
              FROM s1
            ),
            sh1 AS (
              SELECT doc_id, unnest(list_distinct([array_to_string(toklist[i:i+2], ' ')
                     FOR i IN range(1, len(toklist) - 1)])) AS sh
              FROM tok1 WHERE len(toklist) >= 3
            ),
            sig AS (SELECT doc_id, {mh_cols} FROM sh1 GROUP BY doc_id),
            bands AS (
              SELECT doc_id, 0 AS band, concat_ws('_', mh_0, mh_1, mh_2, mh_3) AS band_key FROM sig
              UNION ALL SELECT doc_id, 1, concat_ws('_', mh_4, mh_5, mh_6, mh_7) FROM sig
              UNION ALL SELECT doc_id, 2, concat_ws('_', mh_8, mh_9, mh_10, mh_11) FROM sig
              UNION ALL SELECT doc_id, 3, concat_ws('_', mh_12, mh_13, mh_14, mh_15) FROM sig
            ),
            prs AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
            ),
            edges AS (SELECT id_a AS a, id_b AS b FROM prs UNION SELECT id_b, id_a FROM prs),
            reach(id, r) AS (
              SELECT a, a FROM edges
              UNION
              SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
            ),
            comp AS (SELECT id, min(r) AS component_id FROM reach GROUP BY id),
            s2 AS (
              SELECT s1.doc_id, s1.source, s1.text
              FROM s1 LEFT JOIN comp c ON c.id = s1.doc_id
              WHERE coalesce(c.component_id, s1.doc_id) = s1.doc_id
            ),
            evsh AS (
              SELECT DISTINCT sh FROM ({sh}) WHERE doc_id % 97 = 0
            ),
            sh2 AS (
              SELECT doc_id, unnest(list_distinct([array_to_string(toklist[i:i+2], ' ')
                     FOR i IN range(1, len(toklist) - 1)])) AS sh
              FROM (SELECT doc_id,
                      list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toklist
                    FROM s2)
              WHERE len(toklist) >= 3
            ),
            hits AS (SELECT DISTINCT s.doc_id FROM sh2 s JOIN evsh e ON s.sh = e.sh),
            s3 AS (
              SELECT s2.doc_id, s2.source, s2.text
              FROM s2 LEFT JOIN hits h ON h.doc_id = s2.doc_id
              WHERE h.doc_id IS NULL
            ),
            t3 AS (
              SELECT doc_id, source,
                     len(regexp_extract_all(text, '[A-Za-z0-9]+'))::BIGINT AS n_tokens,
                     md5(concat(source, ':', doc_id)) AS k
              FROM s3
            ),
            c3 AS (
              SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY k, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_before
              FROM t3
            ),
            bb(source, budget) AS (VALUES {", ".join(f"('{s}', {v})" for s, v in sorted(MIX_BUDGETS.items()))}),
            mx AS (
              SELECT c3.doc_id, c3.source, c3.n_tokens,
                     c3.cum_before < coalesce(bb.budget, 0) AS keep
              FROM c3 LEFT JOIN bb ON bb.source = c3.source
            ),
            agg0 AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1),
            agg1 AS (SELECT source, count(*)::BIGINT AS kept_curation FROM s1 GROUP BY 1),
            agg2 AS (SELECT source, count(*)::BIGINT AS kept_dedup FROM s2 GROUP BY 1),
            agg3 AS (SELECT source, count(*)::BIGINT AS kept_decontam FROM s3 GROUP BY 1),
            agg4 AS (
              SELECT source,
                     sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS kept_mix,
                     sum(CASE WHEN keep THEN n_tokens ELSE 0 END)::BIGINT AS kept_tokens
              FROM mx GROUP BY 1
            )
            SELECT a0.source, a0.n_docs,
                   coalesce(a1.kept_curation, 0)::BIGINT AS kept_curation,
                   coalesce(a2.kept_dedup, 0)::BIGINT AS kept_dedup,
                   coalesce(a3.kept_decontam, 0)::BIGINT AS kept_decontam,
                   coalesce(a4.kept_mix, 0)::BIGINT AS kept_mix,
                   coalesce(a4.kept_tokens, 0)::BIGINT AS kept_tokens
            FROM agg0 a0
            LEFT JOIN agg1 a1 USING (source)
            LEFT JOIN agg2 a2 USING (source)
            LEFT JOIN agg3 a3 USING (source)
            LEFT JOIN agg4 a4 USING (source)
        """,
        "training_mix_stats": f"""
            WITH t AS (
              SELECT doc_id, source,
                     len(regexp_extract_all(text, '[A-Za-z0-9]+'))::BIGINT AS n_tokens,
                     md5(concat(source, ':', doc_id)) AS k
              FROM documents
            ),
            c AS (
              SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY k, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_before
              FROM t
            ),
            b(source, budget) AS (VALUES {", ".join(f"('{s}', {v})" for s, v in sorted(MIX_BUDGETS.items()))}),
            m AS (
              SELECT c.*, c.cum_before < coalesce(b.budget, 0) AS keep
              FROM c LEFT JOIN b ON b.source = c.source
            )
            SELECT source, count(*)::BIGINT AS n_docs,
                   sum(n_tokens)::BIGINT AS avail_tokens,
                   sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS kept_docs,
                   sum(CASE WHEN keep THEN n_tokens ELSE 0 END)::BIGINT AS kept_tokens
            FROM m GROUP BY source
        """,
        "minhash_signatures": f"""
            WITH sh AS ({sh})
            SELECT doc_id::BIGINT AS doc_id, {mh_cols} FROM sh GROUP BY doc_id
        """,
        "minhash_lsh_pairs": f"""
            WITH sh AS ({sh}),
            sig AS (SELECT doc_id, {mh_cols} FROM sh GROUP BY doc_id),
            bands AS (
              SELECT doc_id, 0 AS band, concat_ws('_', mh_0, mh_1, mh_2, mh_3) AS band_key FROM sig
              UNION ALL SELECT doc_id, 1, concat_ws('_', mh_4, mh_5, mh_6, mh_7) FROM sig
              UNION ALL SELECT doc_id, 2, concat_ws('_', mh_8, mh_9, mh_10, mh_11) FROM sig
              UNION ALL SELECT doc_id, 3, concat_ws('_', mh_12, mh_13, mh_14, mh_15) FROM sig
            )
            SELECT DISTINCT a.doc_id::BIGINT AS id_a, b.doc_id::BIGINT AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        """,
        "simhash": f"""
            WITH {simhash_body}
            SELECT * FROM sim
        """,
        "mmr_topk": _mmr_sql(MMR_QIDS, MMR_K, MMR_LAM, MMR_FETCH),
        "bm25_topk_fuzzy": f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, claim) AS {_FUZZY_CLAIMS_SQL},
qraw AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS qt FROM claims
),
cand AS (
  SELECT q.claim_id, q.qt, d.term, d.df, levenshtein(q.qt, d.term) AS dist
  FROM qraw q JOIN dfreq d ON abs(length(d.term) - length(q.qt)) <= {FUZZY_DIST}
  WHERE levenshtein(q.qt, d.term) <= {FUZZY_DIST}
),
kept AS (
  SELECT claim_id, term, round(1.0 / (1.0 + dist), 6) AS weight
  FROM (SELECT *, row_number() OVER (PARTITION BY claim_id, qt
          ORDER BY dist, df DESC, term) AS rk FROM cand)
  WHERE rk <= {FUZZY_EXP}
),
wterms AS (SELECT claim_id, term, max(weight) AS weight FROM kept GROUP BY 1, 2),
scored AS (
  SELECT w.claim_id, p.doc_id,
         sum( w.weight * ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM wterms w
  JOIN postings p ON p.term = w.term
  JOIN dfreq d ON d.term = w.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rn FROM scored)
WHERE rn <= {TOPK}
""",
        "ltr_features": f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tot AS (SELECT sum(dl) AS t FROM dl),
ctf AS (SELECT term, sum(tf)::DOUBLE AS ctf FROM postings GROUP BY 1),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
base AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS bm25,
         count(*)::BIGINT AS n_matched,
         min(l.dl)::BIGINT AS dl
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
cands AS (
  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
      ORDER BY round(bm25, 6) DESC, doc_id) AS rank FROM base)
  WHERE rank <= {LTR_K}
),
qc AS (SELECT q.claim_id, q.term, c.ctf FROM qterms q JOIN ctf c ON c.term = q.term),
nqin AS (SELECT claim_id, count(*)::DOUBLE AS nqin FROM qc GROUP BY 1),
lmrel AS (
  SELECT q.claim_id, p.doc_id,
         sum(ln(1 + p.tf / ({LTR_MU} * q.ctf / t.t))) AS tsum,
         min(l.dl) AS dld
  FROM qc q JOIN postings p ON p.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN tot t
  GROUP BY 1, 2
),
lm AS (
  SELECT r.claim_id, r.doc_id,
         r.tsum + n.nqin * ln({LTR_MU} / (r.dld + {LTR_MU})) AS lm_qlh
  FROM lmrel r JOIN nqin n USING (claim_id)
),
qbase AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toklist,
         length(text)::BIGINT AS n_chars,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE AS alpha
  FROM documents
),
qfeat AS (
  SELECT doc_id, len(toklist)::BIGINT AS n_tokens,
         CASE WHEN len(toklist) > 0
              THEN len(list_filter(toklist, t -> list_contains({{stop_list}}, t)))::DOUBLE / len(toklist)
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_chars > 0 THEN alpha / n_chars ELSE 0.0 END AS alpha_ratio
  FROM qbase
),
qual AS (
  SELECT doc_id,
         round(CASE WHEN n_tokens < 5 THEN 0.0
               ELSE least(greatest(alpha_ratio * (1.0 - greatest(stop_ratio - 0.5, 0.0)), 0.0), 1.0)
               END, 6) AS quality
  FROM qfeat
)
SELECT c.claim_id::BIGINT AS claim_id, c.rank::BIGINT AS rank, c.doc_id::BIGINT AS doc_id,
       round(c.bm25, 4) AS bm25, round(m.lm_qlh, 4) AS lm_qlh,
       c.n_matched, c.dl, u.quality
FROM cands c
LEFT JOIN lm m ON m.claim_id = c.claim_id AND m.doc_id = c.doc_id
LEFT JOIN qual u ON u.doc_id = c.doc_id
""".format(stop_list=stop_list),
        "percolate_matches": f"""
WITH toks AS ({_TOKS_SQL}),
doc_terms AS (SELECT DISTINCT term, doc_id FROM toks),
rules(query_id, query) AS (VALUES {", ".join(f"({i}, '{q}')" for i, q in [(0, "hash join"), (1, "window stream batch"), (2, "customer order"), (3, "vector zzznever")])}),
rterms AS (
  SELECT DISTINCT query_id, unnest(list_filter(regexp_split_to_array(lower(query),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM rules
),
nq AS (SELECT query_id, count(*)::BIGINT AS n_q FROM rterms GROUP BY 1)
SELECT d.doc_id::BIGINT AS doc_id, r.query_id::BIGINT AS query_id, n.n_q AS n_terms
FROM doc_terms d
JOIN rterms r ON r.term = d.term
JOIN nq n USING (query_id)
GROUP BY d.doc_id, r.query_id, n.n_q
HAVING count(*) = n.n_q
""",
        "dup_spans": f"""
WITH tl AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS t FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         ('0x' || substr(md5(array_to_string(t[i:i+{DUPSPAN_L}-1], ' ')), 1, 15))::BIGINT AS g64
  FROM tl, unnest(range(1, len(t) - {DUPSPAN_L} + 2)) AS u(i)
  WHERE len(t) >= {DUPSPAN_L}
),
dupk AS (SELECT g64 FROM grams GROUP BY 1 HAVING count(*) >= 2),
hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dupk USING (g64)),
marked AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 1
              THEN 1 ELSE 0 END AS newgrp
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
grp AS (
  SELECT doc_id, pos,
         sum(newgrp) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM marked
)
SELECT doc_id::BIGINT AS doc_id,
       min(pos)::BIGINT AS start_pos,
       (max(pos) + {DUPSPAN_L} - 1)::BIGINT AS end_pos,
       (max(pos) - min(pos) + {DUPSPAN_L})::BIGINT AS n_tokens
FROM grp GROUP BY doc_id, g
""",
        "query_clarity": f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tot AS (SELECT sum(dl) AS t FROM dl),
ctf AS (SELECT term, sum(tf)::DOUBLE AS ctf FROM postings GROUP BY 1),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
scored1 AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
fbdocs AS (
  SELECT claim_id, doc_id, score
  FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
          ORDER BY round(score, 6) DESC, doc_id) AS rn FROM scored1)
  WHERE rn <= {CLARITY_FB_DOCS}
),
fb AS (
  SELECT f.claim_id, f.doc_id, f.score / s.ssum AS p_d
  FROM fbdocs f JOIN (SELECT claim_id, sum(score) AS ssum FROM fbdocs GROUP BY 1) s
    USING (claim_id)
),
rm AS (
  SELECT f.claim_id, p.term, round(sum(p.tf / l.dl * f.p_d), 9) AS rm_w
  FROM fb f
  JOIN postings p ON p.doc_id = f.doc_id
  JOIN dl l ON l.doc_id = f.doc_id
  GROUP BY 1, 2
),
kept AS (
  SELECT claim_id, term, rm_w
  FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
          ORDER BY rm_w DESC, term) AS rn FROM rm)
  WHERE rn <= {CLARITY_FB_TERMS}
),
rm_p AS (
  SELECT k.claim_id, k.term, round(k.rm_w / s.ksum, 9) AS rm_p
  FROM kept k JOIN (SELECT claim_id, sum(rm_w) AS ksum FROM kept GROUP BY 1) s
    USING (claim_id)
)
SELECT r.claim_id::BIGINT AS claim_id, count(*)::BIGINT AS n_terms,
       round(sum(r.rm_p * ln(r.rm_p / (c.ctf / t.t)) * 1.4426950408889634), 6) AS clarity
FROM rm_p r
JOIN ctf c ON c.term = r.term
CROSS JOIN tot t
WHERE r.rm_p > 0
GROUP BY 1
""",
        "value_histogram": """
            SELECT event_type, bin, round(bin * 25.0, 6) AS lo,
                   count(*)::BIGINT AS n, round(avg(value), 6) AS mean_value
            FROM (SELECT event_type, value, floor(value / 25.0)::BIGINT AS bin FROM events)
            GROUP BY event_type, bin
        """,
        "significant_terms": (
            f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
fg AS (
  SELECT claim_id, doc_id
  FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
          ORDER BY round(score, 6) DESC, doc_id) AS rn FROM scored)
  WHERE rn <= {SIGTERMS_FG_K}
),
fgsize AS (SELECT claim_id, count(*)::DOUBLE AS fg_size FROM fg GROUP BY 1),
fgterms AS (
  SELECT f.claim_id, p.term, count(*)::BIGINT AS fg_count
  FROM fg f JOIN postings p ON p.doc_id = f.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
kept AS (
  SELECT ft.claim_id, ft.term, ft.fg_count, d.df::BIGINT AS bg_count,
         (ft.fg_count / z.fg_size) AS fgp, (d.df / s.n) AS bgp
  FROM fgterms ft
  JOIN dfreq d ON d.term = ft.term
  JOIN fgsize z ON z.claim_id = ft.claim_id
  CROSS JOIN stats s
  LEFT JOIN qterms q ON q.claim_id = ft.claim_id AND q.term = ft.term
  WHERE q.term IS NULL AND (ft.fg_count / z.fg_size) > (d.df / s.n)
)
SELECT claim_id::BIGINT AS claim_id, rank::BIGINT AS rank, term, fg_count, bg_count,
       round(jlh, 6) AS jlh
FROM (SELECT *, (fgp - bgp) * (fgp / bgp) AS jlh,
             row_number() OVER (PARTITION BY claim_id
               ORDER BY round((fgp - bgp) * (fgp / bgp), 6) DESC, term) AS rank
      FROM kept)
WHERE rank <= 10
"""
        ),
        "bm25_topk_page2": (
            "SELECT claim_id, doc_id, score FROM ("
            + _bm25_sql(
                _TOKS_SQL, _CLAIMS_SQL, 2 * TOPK,
                select="claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, "
                       "round(score, 4) AS score, rn",
                order_by="round(score, 6) DESC, doc_id",
            )
            + f") WHERE rn > {TOPK}"
        ),
        "bm25f_topk": f"""
WITH tl AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS t FROM documents
),
tokpos AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS term
  FROM tl, unnest(range(1, len(t) + 1)) AS u(i)
),
ftoks AS (
  SELECT doc_id, CASE WHEN pos < {BM25F_LEAD_N} THEN 'lead' ELSE 'body' END AS field, term
  FROM tokpos
),
ftf AS (SELECT doc_id, field, term, count(*)::BIGINT AS tf FROM ftoks GROUP BY 1, 2, 3),
fdl AS (SELECT doc_id, field, count(*)::BIGINT AS dl_f FROM ftoks GROUP BY 1, 2),
favg AS (SELECT field, avg(dl_f) AS avgdl_f FROM fdl GROUP BY 1),
nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM ftoks),
dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM ftoks GROUP BY 1),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
tfn AS (
  SELECT q.claim_id, f.doc_id, f.term,
         sum( (CASE f.field WHEN 'lead' THEN 2.0 ELSE 1.0 END)
              * f.tf / (1.0 - 0.75 + 0.75 * l.dl_f / a.avgdl_f) ) AS tfc
  FROM qterms q
  JOIN ftf f ON f.term = q.term
  JOIN fdl l ON l.doc_id = f.doc_id AND l.field = f.field
  JOIN favg a ON a.field = f.field
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT t.claim_id, t.doc_id,
         sum( ln(1 + (n.n - d.df + 0.5) / (d.df + 0.5)) * t.tfc / (1.2 + t.tfc) ) AS score
  FROM tfn t
  JOIN dfreq d ON d.term = t.term
  CROSS JOIN nd n
  GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rn FROM scored)
WHERE rn <= {TOPK}
""",
        "best_passage": f"""
WITH tl AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS t FROM documents
),
tokpos AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS term
  FROM tl, unnest(range(1, len(t) + 1)) AS u(i)
),
toks AS (SELECT doc_id, term FROM tokpos),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
scope AS (
  SELECT claim_id, doc_id
  FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
          ORDER BY score DESC, doc_id) AS rn FROM scored)
  WHERE rn <= {PASSAGE_SCOPE_K}
),
occ AS (
  SELECT q.claim_id, tk.doc_id, tk.pos, tk.term
  FROM qterms q
  JOIN tokpos tk USING (term)
  JOIN scope s ON s.claim_id = q.claim_id AND s.doc_id = tk.doc_id
),
wins AS (
  SELECT a.claim_id, a.doc_id, a.pos AS start_pos,
         count(DISTINCT b.term)::BIGINT AS n_terms, count(*)::BIGINT AS n_hits
  FROM occ a JOIN occ b
    ON b.claim_id = a.claim_id AND b.doc_id = a.doc_id
   AND b.pos BETWEEN a.pos AND a.pos + {PASSAGE_W - 1}
  GROUP BY 1, 2, 3
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id,
       start_pos::BIGINT AS start_pos, n_terms, n_hits
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id, doc_id
        ORDER BY n_terms DESC, n_hits DESC, start_pos) AS rk FROM wins)
WHERE rk = 1
""",
        "packed_sequences": f"""
            WITH t AS (
              SELECT doc_id,
                     len(regexp_extract_all(text, '[A-Za-z0-9]+'))::BIGINT AS n_tokens,
                     md5(doc_id::VARCHAR) AS k
              FROM documents
            ),
            c AS (
              SELECT doc_id, n_tokens,
                     sum(n_tokens) OVER (ORDER BY k, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS excl
              FROM t
            )
            SELECT doc_id::BIGINT AS doc_id, n_tokens,
                   (excl // {PACK_SEQ_LEN})::BIGINT AS seq_id,
                   (excl % {PACK_SEQ_LEN})::BIGINT AS seq_offset
            FROM c
        """,
        "sq8_cosine_topk": """
            WITH e AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL
            ),
            s AS (SELECT vec_id, v, list_max([abs(x) FOR x IN v]) AS mx FROM e),
            c AS (SELECT vec_id, [floor(x * 127.0 / mx + 0.5) FOR x IN v] AS code
                  FROM s WHERE mx > 0),
            n AS (SELECT vec_id, code, list_dot_product(code, code) AS nrm FROM c),
            q AS (SELECT vec_id AS query_id, code AS qcode, nrm AS qnrm FROM n
                  WHERE vec_id IN (0,1,2,3,4)),
            scored AS (
              SELECT q.query_id, n.vec_id,
                     round(list_dot_product(n.code, q.qcode)
                           / (sqrt(n.nrm) * sqrt(q.qnrm)), 6) AS cos
              FROM n CROSS JOIN q WHERE n.vec_id <> q.query_id
            )
            SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank,
                   vec_id::BIGINT AS vec_id, cos
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, vec_id) AS rank FROM scored)
            WHERE rank <= 10
        """,
        "cosine_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     round(list_dot_product(q.qvec::DOUBLE[], e.embedding::DOUBLE[])
                           / (sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[]))
                              * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6) AS cos
              FROM embeddings e CROSS JOIN q
              WHERE e.vec_id <> q.query_id
            )
            SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank, vec_id::BIGINT AS vec_id, cos
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
                  FROM scored)
            WHERE rank <= 10
        """,
        "embedding_dup_pairs": """
            SELECT a.vec_id::BIGINT AS id_a, b.vec_id::BIGINT AS id_b,
                   round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                            * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                        / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                           * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) >= 0.35
        """,
        "text_quality": f"""
            WITH base AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toklist,
                     length(text)::BIGINT AS n_chars,
                     length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE AS alpha,
                     length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE AS digits
              FROM documents
            ),
            feat AS (
              SELECT doc_id, len(toklist)::BIGINT AS n_tokens, n_chars, alpha,
                     CASE WHEN len(toklist) > 0 THEN (alpha + digits) / len(toklist) ELSE 0.0 END AS mean_tok_len,
                     CASE WHEN len(toklist) > 0
                          THEN len(list_filter(toklist, t -> list_contains({stop_list}, t)))::DOUBLE / len(toklist)
                          ELSE 0.0 END AS stop_ratio,
                     CASE WHEN n_chars > 0 THEN alpha / n_chars ELSE 0.0 END AS alpha_ratio
              FROM base
            )
            SELECT doc_id::BIGINT AS doc_id, n_tokens, n_chars,
                   round(mean_tok_len, 6) AS mean_tok_len,
                   round(stop_ratio, 6) AS stopword_ratio,
                   round(alpha_ratio, 6) AS alpha_ratio,
                   round(CASE WHEN n_tokens < 5 THEN 0.0
                         ELSE least(greatest(alpha_ratio * (1.0 - greatest(stop_ratio - 0.5, 0.0)), 0.0), 1.0)
                         END, 6) AS quality
            FROM feat
        """,
        "lang_id": f"""
            WITH base AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toklist
              FROM documents
            ),
            hits AS (
              SELECT doc_id,
                     len(list_filter(toklist, t -> list_contains({markers['en']}, t)))::BIGINT AS hits_en,
                     len(list_filter(toklist, t -> list_contains({markers['fr']}, t)))::BIGINT AS hits_fr,
                     len(list_filter(toklist, t -> list_contains({markers['es']}, t)))::BIGINT AS hits_es,
                     len(list_filter(toklist, t -> list_contains({markers['de']}, t)))::BIGINT AS hits_de
              FROM base
            )
            SELECT doc_id::BIGINT AS doc_id, hits_en, hits_fr, hits_es, hits_de,
                   CASE WHEN greatest(hits_en, hits_fr, hits_es, hits_de) = 0 THEN 'und'
                        WHEN hits_en = greatest(hits_en, hits_fr, hits_es, hits_de) THEN 'en'
                        WHEN hits_fr = greatest(hits_en, hits_fr, hits_es, hits_de) THEN 'fr'
                        WHEN hits_es = greatest(hits_en, hits_fr, hits_es, hits_de) THEN 'es'
                        ELSE 'de' END AS pred_lang
            FROM hits
        """,
        "pii_redact": _pii_oracle_sql(_PII_TEXT_SQL),
        "url_parse": _URL_FEATS_SQL.format(src=_URL_TEXT_SQL),
        "domain_rollup": f"""
WITH feats AS ({_URL_FEATS_SQL.format(src=_URL_TEXT_SQL)})
SELECT registrable_domain,
       count(*)::BIGINT AS n_pages,
       count(DISTINCT host)::BIGINT AS n_hosts,
       round(avg(is_https::DOUBLE), 6) AS https_frac,
       round(avg(path_depth::DOUBLE), 6) AS mean_path_depth
FROM feats
WHERE registrable_domain IS NOT NULL
GROUP BY 1
""",
        "more_like_this": f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
seeds(doc_id) AS (VALUES {", ".join(f"({s})" for s in MLT_SEEDS)}),
kw AS (
  SELECT claim_id, term FROM (
    SELECT p.doc_id AS claim_id, p.term,
           row_number() OVER (PARTITION BY p.doc_id
             ORDER BY round(p.tf * ln(s.n / d.df), 6) DESC, p.term) AS rn
    FROM postings p
    JOIN seeds sd ON sd.doc_id = p.doc_id
    JOIN dfreq d ON d.term = p.term
    CROSS JOIN stats s
  ) WHERE rn <= 5
),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM kw q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS seed_id, rank::BIGINT AS rank,
       doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rank
      FROM scored WHERE doc_id <> claim_id)
WHERE rank <= {TOPK}
""",
        "spell_correct": f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id FROM toks GROUP BY 1, 2),
dict AS (SELECT term, count(*)::BIGINT AS df FROM postings GROUP BY 1),
q(claim_id, term) AS (VALUES {", ".join(f"({c}, '{t}')" for c, t in TYPO_TERMS)}),
oov AS (SELECT q.* FROM q LEFT JOIN dict d ON d.term = q.term WHERE d.term IS NULL),
cand AS (
  SELECT o.claim_id, o.term, d.term AS suggestion,
         levenshtein(o.term, d.term)::BIGINT AS dist, d.df
  FROM oov o JOIN dict d ON abs(len(d.term) - len(o.term)) <= 2
  WHERE levenshtein(o.term, d.term) <= 2
)
SELECT claim_id, term, rank, suggestion, dist, df
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id, term
        ORDER BY dist, df DESC, suggestion) AS rank FROM cand)
WHERE rank <= 3
""",
        "hybrid_similar": f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
seeds(doc_id) AS (VALUES {", ".join(f"({s})" for s in MLT_SEEDS)}),
kw AS (
  SELECT claim_id, term FROM (
    SELECT p.doc_id AS claim_id, p.term,
           row_number() OVER (PARTITION BY p.doc_id
             ORDER BY round(p.tf * ln(s.n / d.df), 6) DESC, p.term) AS rn
    FROM postings p
    JOIN seeds sd ON sd.doc_id = p.doc_id
    JOIN dfreq d ON d.term = p.term
    CROSS JOIN stats s
  ) WHERE rn <= 5
),
tscored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM kw q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
text_rank AS (
  SELECT claim_id, doc_id, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY claim_id
      ORDER BY round(score, 6) DESC, doc_id) AS rank
    FROM tscored WHERE doc_id <> claim_id)
  WHERE rank <= {HYBRID_N_EACH}
),
qv AS (SELECT vec_id AS claim_id, embedding AS qvec FROM embeddings
       WHERE vec_id IN ({", ".join(str(s) for s in MLT_SEEDS)})),
vscored AS (
  SELECT q.claim_id, e.vec_id AS doc_id,
         round(list_dot_product(q.qvec::DOUBLE[], e.embedding::DOUBLE[])
               / (sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[]))
                  * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6) AS cos
  FROM embeddings e CROSS JOIN qv q
  WHERE e.vec_id <> q.claim_id
),
vec_rank AS (
  SELECT claim_id, doc_id, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY claim_id
      ORDER BY cos DESC, doc_id) AS rank FROM vscored)
  WHERE rank <= {HYBRID_N_EACH}
),
fused AS (
  SELECT claim_id, doc_id, round(sum(1.0 / (60.0 + rank)), 9) AS rrf
  FROM (SELECT * FROM text_rank UNION ALL SELECT * FROM vec_rank)
  GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS seed_id, rank::BIGINT AS rank,
       doc_id::BIGINT AS doc_id, rrf
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY rrf DESC, doc_id) AS rank FROM fused)
WHERE rank <= {TOPK}
""",
        "facet_counts": f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
nq AS (SELECT claim_id, count(*)::BIGINT AS n_q FROM qterms GROUP BY 1),
matches AS (
  SELECT m.claim_id, m.doc_id
  FROM (SELECT q.claim_id, p.doc_id, count(*)::BIGINT AS n_matched
        FROM qterms q JOIN postings p ON p.term = q.term GROUP BY 1, 2) m
  JOIN nq ON nq.claim_id = m.claim_id AND m.n_matched = nq.n_q
),
joined AS (SELECT m.claim_id, d.lang, d.source
           FROM matches m JOIN documents d ON d.doc_id = m.doc_id)
SELECT claim_id, 'lang' AS facet, lang AS value, count(*)::BIGINT AS n_docs
FROM joined GROUP BY 1, 3
UNION ALL
SELECT claim_id, 'source' AS facet, source AS value, count(*)::BIGINT AS n_docs
FROM joined GROUP BY 1, 3
""",
        "bigram_pmi": """
WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
                '[^a-z0-9]+'), t -> t <> '') AS tl FROM documents),
uni AS (
  SELECT w, count(*)::BIGINT AS c
  FROM (SELECT unnest(tl) AS w FROM toks) GROUP BY 1
),
big AS (
  SELECT tl[i] AS w1, tl[i+1] AS w2
  FROM toks, unnest(generate_series(1, len(tl) - 1)) AS t(i)
  WHERE len(tl) >= 2
),
bigc AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM big GROUP BY 1, 2),
tot AS (
  SELECT (SELECT sum(c)::DOUBLE FROM uni) AS t,
         (SELECT sum(c12)::DOUBLE FROM bigc) AS t2
)
SELECT w1, w2, c12,
       round(ln(((c12 * t.t) * t.t) / ((t.t2 * u1.c) * u2.c)), 6) AS pmi
FROM bigc
JOIN uni u1 ON u1.w = w1
JOIN uni u2 ON u2.w = w2
CROSS JOIN tot t
WHERE c12 >= 20
ORDER BY pmi DESC, w1, w2
LIMIT 50
""",
        "doc_keywords": f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n_docs FROM toks),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
scored AS (
  SELECT p.doc_id, p.term,
         round(p.tf * ln(n.n_docs / d.df), 6) AS weight
  FROM postings p JOIN dfreq d ON d.term = p.term CROSS JOIN n
)
SELECT doc_id, rank, term, weight
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        ORDER BY weight DESC, term) AS rank FROM scored)
WHERE rank <= 3
""",
        "chunk_dedup": _CHUNKS_SQL + """
, flagged AS (
  SELECT doc_id,
         (row_number() OVER (PARTITION BY sentence ORDER BY doc_id, sent_idx) = 1) AS keep
  FROM chunks
)
SELECT doc_id, count(*)::BIGINT AS n_chunks,
       sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_dropped
FROM flagged GROUP BY 1
""",
        "curation_keep_stats": f"""
WITH {curation_ctes}
SELECT lang, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept
FROM cur GROUP BY 1
""",
        "stemmed_term_counts": ("""
WITH src AS (
  SELECT doc_id, text || CASE WHEN doc_id % 4 = 0
           THEN '""" + _STEM_SUFFIX + """' ELSE '' END AS text
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM src
),
stemmed AS (SELECT doc_id, """
+ _S_STEM_CASE.format(t="term") + """ AS term FROM toks),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM stemmed GROUP BY 1, 2)
SELECT term, sum(tf)::BIGINT AS total_tf, count(*)::BIGINT AS df
FROM postings GROUP BY 1
"""),
        "doc_repetition": """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks,
         list_filter(str_split(text, chr(10)), l -> l <> '') AS lines
  FROM documents
),
n AS (
  SELECT doc_id, len(toks)::BIGINT AS n_tokens, len(lines) AS n_lines,
         len(list_distinct(lines)) AS n_dlines
  FROM base
),
big AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
  FROM base, unnest(generate_series(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 2
),
bigc AS (
  SELECT doc_id, max(c)::DOUBLE AS mx, sum(c)::DOUBLE AS tot
  FROM (SELECT doc_id, g, count(*) AS c FROM big GROUP BY 1, 2) GROUP BY 1
),
g5 AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         toks[i+3] || ' ' || toks[i+4] AS g
  FROM base, unnest(generate_series(1, len(toks) - 4)) AS t(i)
  WHERE len(toks) >= 5
),
g5c AS (
  SELECT doc_id, sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::DOUBLE AS dup,
         sum(c)::DOUBLE AS tot
  FROM (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1, 2) GROUP BY 1
)
SELECT n.doc_id, n.n_tokens,
       CASE WHEN n.n_lines > 0
            THEN round((n.n_lines - n.n_dlines) / n.n_lines::DOUBLE, 6)
            ELSE 0.0 END AS dup_line_frac,
       coalesce(round(bigc.mx / bigc.tot, 6), 0.0) AS top_bigram_frac,
       coalesce(round(g5c.dup / g5c.tot, 6), 0.0) AS dup_5gram_frac
FROM n LEFT JOIN bigc USING (doc_id) LEFT JOIN g5c USING (doc_id)
""",
        "doc_fingerprint": f"""
            WITH base AS (
              SELECT doc_id,
                     CASE WHEN length(lower(text)) >= 5
                          THEN [substr(lower(text), i, 5) FOR i IN range(1, length(lower(text)) - 3)]
                          ELSE []::VARCHAR[] END AS grams
              FROM documents
            )
            SELECT doc_id::BIGINT AS doc_id, {fp_cols} FROM base
        """,
        "token_counts": """
            SELECT doc_id::BIGINT AS doc_id,
                   len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> ''))::BIGINT AS n_tokens
            FROM documents
        """,
        "title_match": _title_match_sql(),
        "candidate_union": f"""
            SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id FROM (
              SELECT claim_id, doc_id FROM ({_title_match_sql()})
              UNION
              SELECT claim_id, doc_id FROM (
                {_bm25_sql(_TOKS_SQL, _title_claims_sql(), TOPK,
                           select="claim_id, doc_id")}
              )
            )
        """,
        "drqa_tfidf_topk": _drqa_sql(),
        "sentence_chunks": f"""
            {_CHUNKS_SQL}
            SELECT doc_id::BIGINT AS doc_id, sent_idx::BIGINT AS sent_idx, sentence
            FROM chunks
        """,
        "sentence_topk": _bm25_sql(
            _SENT_TOKS_SQL,
            _CLAIMS_SQL,
            3,
            select=(
                "claim_id::BIGINT AS claim_id, rn::BIGINT AS rank, "
                "(doc_id // 1048576)::BIGINT AS doc_id, "
                "(doc_id % 1048576)::BIGINT AS sent_idx, round(score, 4) AS score"
            ),
            order_by="round(score, 4) DESC, doc_id",
        ),
        "fever_eval": _fever_sql(),
        "rte_label_agg": f"""
            WITH top3 AS (
              {_bm25_sql(_SENT_TOKS_SQL, _CLAIMS_SQL, 3,
                         select=("claim_id, (doc_id // 1048576) AS doc_id, "
                                 "(doc_id % 1048576) AS sent_idx"),
                         order_by="round(score, 4) DESC, doc_id")}
            ),
            chunks AS (
              SELECT doc_id, i - 1 AS sent_idx,
                     array_to_string(tl[(i-1)*10+1:i*10], ' ') AS sentence
              FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
                      '[^a-z0-9]+'), t -> t <> '') AS tl FROM documents) b,
                   unnest(range(1, CAST(ceil(len(tl)/10.0) AS INTEGER) + 1)) AS u(i)
            ),
            claims(claim_id, claim) AS {_CLAIMS_SQL},
            hashed AS (
              SELECT t.claim_id, sha256(c.claim || '|' || ch.sentence) AS h
              FROM top3 t
              JOIN chunks ch ON t.doc_id = ch.doc_id AND t.sent_idx = ch.sent_idx
              JOIN claims c ON c.claim_id = t.claim_id
            ),
            lab AS (
              SELECT claim_id,
                     CASE WHEN substr(h,1,8) >= substr(h,9,8)
                               AND substr(h,1,8) >= substr(h,17,8) THEN 'SUPPORTS'
                          WHEN substr(h,9,8) >= substr(h,17,8) THEN 'REFUTES'
                          ELSE 'NOT ENOUGH INFO' END AS label
              FROM hashed
            ),
            votes AS (SELECT claim_id, label, count(*)::BIGINT AS n_votes
                      FROM lab GROUP BY 1, 2),
            totals AS (SELECT claim_id, count(*)::BIGINT AS n_sents
                       FROM lab GROUP BY 1),
            best AS (SELECT claim_id, label AS predicted_label, n_votes
                     FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
                              ORDER BY n_votes DESC, label) AS rn FROM votes)
                     WHERE rn = 1)
            SELECT claim_id::BIGINT AS claim_id, predicted_label, n_votes, n_sents
            FROM best JOIN totals USING (claim_id)
        """,
        "simhash_pairs": f"""
            WITH {simhash_body}
            SELECT a.doc_id::BIGINT AS id_a, b.doc_id::BIGINT AS id_b,
                   bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
            FROM sim a JOIN sim b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
        """,
        # lsh_ann_topk / lsh_dup_pairs / ivf_ann_topk: intentionally NO
        # oracle (approximate operators);
        # driver records the rows-only check, pytest proves recall vs the
        # exact brute-force baseline
        "bpe_token_counts": """
            SELECT doc_id::BIGINT AS doc_id,
                   length(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +'))::BIGINT AS n_bpe_tokens
            FROM documents
        """,
        "doc_split_counts": """
            WITH b AS (SELECT lang, ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 100 AS bucket FROM documents)
            SELECT CASE WHEN bucket < 80 THEN 'train'
                        WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
                   lang, count(*)::BIGINT AS n_docs
            FROM b GROUP BY 1, 2
        """,
        "source_stats": """
            SELECT source, count(*)::BIGINT AS n_docs,
                   count(DISTINCT md5(text))::BIGINT AS distinct_texts,
                   round(1.0 - count(DISTINCT md5(text))::DOUBLE / count(*), 6) AS dup_rate,
                   round(avg(length(text)), 6) AS avg_chars
            FROM documents GROUP BY source
        """,
        "latest_event_per_user": """
            SELECT user_id::BIGINT AS user_id, event_id::BIGINT AS event_id,
                   CAST(ts AS VARCHAR) AS ts, event_type, round(value, 6) AS value
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn FROM events)
            WHERE rn = 1
        """,
        "media_features": """
            WITH m AS (SELECT doc_id AS media_id,
                              octet_length(encode(text))::BIGINT AS n_bytes,
                              sha256(text) AS h
                       FROM documents)
            SELECT media_id::BIGINT AS media_id, n_bytes, round((((strpos('0123456789abcdef', substr(h, 1, 1))-1)*16 + (strpos('0123456789abcdef', substr(h, 2, 1))-1)) + 256*((strpos('0123456789abcdef', substr(h, 3, 1))-1)*16 + (strpos('0123456789abcdef', substr(h, 4, 1))-1))) / 65536.0, 6) AS feat_0, round((((strpos('0123456789abcdef', substr(h, 5, 1))-1)*16 + (strpos('0123456789abcdef', substr(h, 6, 1))-1)) + 256*((strpos('0123456789abcdef', substr(h, 7, 1))-1)*16 + (strpos('0123456789abcdef', substr(h, 8, 1))-1))) / 65536.0, 6) AS feat_1, round((((strpos('0123456789abcdef', substr(h, 9, 1))-1)*16 + (strpos('0123456789abcdef', substr(h, 10, 1))-1)) + 256*((strpos('0123456789abcdef', substr(h, 11, 1))-1)*16 + (strpos('0123456789abcdef', substr(h, 12, 1))-1))) / 65536.0, 6) AS feat_2, round((((strpos('0123456789abcdef', substr(h, 13, 1))-1)*16 + (strpos('0123456789abcdef', substr(h, 14, 1))-1)) + 256*((strpos('0123456789abcdef', substr(h, 15, 1))-1)*16 + (strpos('0123456789abcdef', substr(h, 16, 1))-1))) / 65536.0, 6) AS feat_3 FROM m
        """,
        "revenue_cube": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "event_sessions": """
            WITH ordered AS (
              SELECT user_id, event_id, ts, value,
                     CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
            ),
            sess AS (
              SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM ordered
            )
            SELECT user_id::BIGINT AS user_id, session_id::BIGINT AS session_id,
                   count(*)::BIGINT AS n_events,
                   CAST(min(ts) AS VARCHAR) AS session_start,
                   CAST(max(ts) AS VARCHAR) AS session_end,
                   round(sum(value), 4) AS total_value
            FROM sess GROUP BY 1, 2
        """,
        "value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type
        """,
    }
    # dedup-method QA: compose the published LSH / SimHash / exact-Jaccard
    # twins so the evaluation itself (not just its inputs) is oracle-checked
    jac = d["dedup_ngram_jaccard"]
    lshq = d["minhash_lsh_pairs"]
    shq = d["simhash_pairs"]
    d["dedup_method_eval"] = f"""
WITH truth AS (SELECT id_a, id_b FROM ({jac}) tt),
lshp AS (SELECT id_a, id_b FROM ({lshq}) lp),
shp AS (SELECT id_a, id_b FROM ({shq}) sp),
ev AS (
  SELECT 'minhash_lsh' AS method,
         (SELECT count(*) FROM lshp)::BIGINT AS n_pred,
         (SELECT count(*) FROM truth)::BIGINT AS n_truth,
         (SELECT count(*) FROM lshp JOIN truth USING (id_a, id_b))::BIGINT AS tp
  UNION ALL
  SELECT 'simhash_h2',
         (SELECT count(*) FROM shp)::BIGINT,
         (SELECT count(*) FROM truth)::BIGINT,
         (SELECT count(*) FROM shp JOIN truth USING (id_a, id_b))::BIGINT
)
SELECT method, n_pred, n_truth, tp,
       round(CASE WHEN n_pred > 0 THEN tp / n_pred::DOUBLE ELSE 0.0 END, 6) AS precision,
       round(CASE WHEN n_truth > 0 THEN tp / n_truth::DOUBLE ELSE 0.0 END, 6) AS recall,
       round(CASE WHEN tp > 0 THEN 2.0 * (tp / n_pred::DOUBLE) * (tp / n_truth::DOUBLE)
                 / (tp / n_pred::DOUBLE + tp / n_truth::DOUBLE) ELSE 0.0 END, 6) AS f1
FROM ev
"""
    d["bm25_topk_fuzzy_symspell"] = d["bm25_topk_fuzzy"]
    wildcard_vals = ", ".join(f"({i}, '{c}')" for i, c in WILDCARD_CLAIMS)
    d["wildcard_topk"] = f"""
WITH toks AS ({toks}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, claim) AS (VALUES {wildcard_vals}),
qraw AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9*?]+'), t -> t <> '')) AS tok FROM claims
),
pats AS (
  SELECT claim_id, tok, replace(replace(tok, '*', '%'), '?', '_') AS pat
  FROM qraw WHERE contains(tok, '*') OR contains(tok, '?')
),
expanded AS (
  SELECT claim_id, term
  FROM (SELECT p.claim_id, p.tok, d.term,
               row_number() OVER (PARTITION BY p.claim_id, p.tok
                 ORDER BY d.df DESC, d.term) AS rk
        FROM pats p JOIN dfreq d ON d.term LIKE p.pat)
  WHERE rk <= {WILDCARD_EXP}
),
qterms AS (
  SELECT DISTINCT claim_id, term FROM (
    SELECT claim_id, tok AS term FROM qraw
    WHERE NOT (contains(tok, '*') OR contains(tok, '?'))
    UNION ALL SELECT claim_id, term FROM expanded)
),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rn FROM scored)
WHERE rn <= {TOPK}
"""
    d["bm25_topk_decay"] = f"""
WITH toks AS ({toks}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
boosts AS (
  SELECT doc_id,
         round(exp(-pow(greatest(abs(n_chars::DOUBLE - {DECAY_ORIGIN}) - {DECAY_OFFSET}, 0.0), 2)
               / (2.0 * (-({DECAY_SCALE} * {DECAY_SCALE}) / (2.0 * ln(0.5))))), 6) AS boost
  FROM documents
),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS bm25
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
final AS (
  SELECT s.claim_id, s.doc_id, s.bm25 * b.boost AS score
  FROM scored s JOIN boosts b ON b.doc_id = s.doc_id
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rn FROM final)
WHERE rn <= {TOPK}
"""
    d["bm25_topk_rescored"] = f"""
-- score rounded at 5 dp: the 0.7/0.3 combine of 4-dp features is exact at
-- five decimals; 4 dp would round exactly-half values engine-dependently
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 5) AS score
FROM (
  SELECT claim_id, doc_id,
         {RESCORE_QW} * bm25 + {RESCORE_RW} * coalesce(lm_qlh, 0.0) AS score,
         row_number() OVER (PARTITION BY claim_id
           ORDER BY round({RESCORE_QW} * bm25 + {RESCORE_RW} * coalesce(lm_qlh, 0.0), 6)
                    DESC, doc_id) AS rn
  FROM ({{ltr_inner}})
)
WHERE rn <= {TOPK}
""".format(ltr_inner=d["ltr_features"])
    span_vals = ", ".join(f"({i}, '{p}')" for i, p in SPAN_PHRASES)
    d["span_near_topk"] = f"""
WITH tl AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS t FROM documents
),
tokpos AS (
  SELECT doc_id, i AS pos, t[i] AS term FROM tl, unnest(range(1, len(t) + 1)) AS u(i)
),
toks AS (SELECT doc_id, term FROM tokpos),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, phrase) AS (VALUES {span_vals}),
qpos AS (
  SELECT claim_id, i - 1 AS idx, q[i] AS term
  FROM (SELECT claim_id, list_filter(regexp_split_to_array(lower(phrase),
          '[^a-z0-9]+'), t -> t <> '') AS q FROM claims),
       unnest(range(1, len(q) + 1)) AS u(i)
),
occ AS (
  SELECT p.claim_id, p.idx, tk.doc_id, tk.pos
  FROM qpos p JOIN tokpos tk USING (term)
),
-- all fixture phrases are length 3: the brute-force existential directly
matches AS (
  SELECT DISTINCT o0.claim_id, o0.doc_id
  FROM occ o0
  JOIN occ o1 ON o1.claim_id = o0.claim_id AND o1.doc_id = o0.doc_id
            AND o1.idx = 1 AND o1.pos > o0.pos
  JOIN occ o2 ON o2.claim_id = o0.claim_id AND o2.doc_id = o0.doc_id
            AND o2.idx = 2 AND o2.pos > o1.pos
  WHERE o0.idx = 0 AND o2.pos - o0.pos + 1 <= 3 + {SPAN_SLOP}
),
qterms AS (SELECT DISTINCT claim_id, term FROM qpos),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  JOIN matches mt ON mt.claim_id = q.claim_id AND mt.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id ORDER BY score DESC, doc_id) AS rn
      FROM scored)
WHERE rn <= {TOPK}
"""
    regex_vals = ", ".join(f"({i}, '{p}')" for i, p in REGEX_PATTERNS)
    d["regex_topk"] = f"""
WITH toks AS ({toks}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
pats(claim_id, pattern) AS (VALUES {regex_vals}),
expanded AS (
  SELECT claim_id, term
  FROM (SELECT p.claim_id, p.pattern, d.term,
               row_number() OVER (PARTITION BY p.claim_id, p.pattern
                 ORDER BY d.df DESC, d.term) AS rk
        FROM pats p JOIN dfreq d ON regexp_full_match(d.term, p.pattern))
  WHERE rk <= {REGEX_EXP}
),
qterms AS (SELECT DISTINCT claim_id, term FROM expanded),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rn FROM scored)
WHERE rn <= {TOPK}
"""
    d["decontaminate_spans"] = f"""
WITH tl AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS t FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         ('0x' || substr(md5(array_to_string(t[i:i+{DUPSPAN_L}-1], ' ')), 1, 15))::BIGINT AS g64
  FROM tl, unnest(range(1, len(t) - {DUPSPAN_L} + 2)) AS u(i)
  WHERE len(t) >= {DUPSPAN_L}
),
evk AS (SELECT DISTINCT g64 FROM grams WHERE doc_id % 97 = 0),
hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN evk USING (g64)),
marked AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 1
              THEN 1 ELSE 0 END AS newgrp
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
grp AS (
  SELECT doc_id, pos,
         sum(newgrp) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM marked
)
SELECT doc_id::BIGINT AS doc_id,
       min(pos)::BIGINT AS start_pos,
       (max(pos) + {DUPSPAN_L} - 1)::BIGINT AS end_pos,
       (max(pos) - min(pos) + {DUPSPAN_L})::BIGINT AS n_tokens
FROM grp GROUP BY doc_id, g
"""
    rbo_weights = ", ".join(
        f"({d}, {(1.0 - RBO_P) * RBO_P ** (d - 1) / d!r})" for d in range(1, RBO_K + 1)
    )
    d["pruned_rbo"] = f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
impacts AS (
  SELECT p.term, p.doc_id, p.tf,
         round( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
                * p.tf * {K1 + 1.0}
                / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)), 6) AS impact
  FROM postings p
  JOIN dfreq d ON d.term = p.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
),
pruned AS (
  SELECT term, doc_id, tf
  FROM (SELECT *, row_number() OVER (PARTITION BY term
          ORDER BY impact DESC, doc_id) AS prn FROM impacts)
  WHERE prn <= {PRUNE_KEEP_N}
),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
sfull AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM qterms q JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s GROUP BY 1, 2
),
spruned AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM qterms q JOIN pruned p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s GROUP BY 1, 2
),
ra AS (SELECT claim_id, doc_id, rn AS rank FROM
  (SELECT *, row_number() OVER (PARTITION BY claim_id
     ORDER BY round(score, 6) DESC, doc_id) AS rn FROM sfull) WHERE rn <= {RBO_K}),
rb AS (SELECT claim_id, doc_id, rn AS rank FROM
  (SELECT *, row_number() OVER (PARTITION BY claim_id
     ORDER BY round(score, 6) DESC, doc_id) AS rn FROM spruned) WHERE rn <= {RBO_K}),
wts(d, w) AS (VALUES {rbo_weights}),
common AS (
  SELECT ra.claim_id, greatest(ra.rank, rb.rank) AS dmin
  FROM ra JOIN rb ON rb.claim_id = ra.claim_id AND rb.doc_id = ra.doc_id
),
agg AS (
  SELECT claim_id,
         sum(CASE WHEN w.d = {RBO_K} THEN 1 ELSE 0 END)::BIGINT AS overlap_k,
         round(sum(w.w), 6) AS rbo
  FROM common b JOIN wts w ON b.dmin <= w.d
  GROUP BY 1
),
-- zero-overlap claims still get a row with rbo = 0.0 (mirrors the
-- operator's left-join fix; ADVICE r3)
ids AS (SELECT DISTINCT claim_id FROM (SELECT claim_id FROM ra UNION SELECT claim_id FROM rb))
SELECT i.claim_id::BIGINT AS claim_id,
       coalesce(a.overlap_k, 0)::BIGINT AS overlap_k,
       coalesce(a.rbo, 0.0) AS rbo
FROM ids i LEFT JOIN agg a USING (claim_id)
"""

    # fever_submission twin: the COMPOSED pipeline in SQL, built from the
    # fragments of its standalone stages (candidate BM25 = _bm25_sql; scoped
    # sentence retrieval = _bm25_sql over chunks restricted to candidate
    # docs, stats over the SCOPED corpus exactly like sentence_retrieval's
    # semi-join; RTE chain = the rte_label_agg twin) plus the submission
    # JSON line assembled by string concatenation (pages 'Doc_<id>' are
    # JSON-safe, so quoting == Spark's to_json escaping).
    _fsub_cands = _bm25_sql(
        _TOKS_SQL, _CLAIMS_SQL, TOPK, select="claim_id, doc_id",
        order_by="round(score, 4) DESC, doc_id",
    )
    _fsub_scoped_toks = f"""
SELECT (doc_id * 1048576 + sent_idx) AS doc_id,
       unnest(list_filter(regexp_split_to_array(lower(sentence), '[^a-z0-9]+'),
                          t -> t <> '')) AS term
FROM (
  SELECT doc_id, i - 1 AS sent_idx,
         array_to_string(tl[(i-1)*10+1:i*10], ' ') AS sentence
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                   t -> t <> '') AS tl FROM documents
        WHERE doc_id IN (SELECT doc_id FROM ({_fsub_cands}))) b,
       unnest(range(1, CAST(ceil(len(tl)/10.0) AS INTEGER) + 1)) AS u(i)
)
"""
    _fsub_top3 = _bm25_sql(
        _fsub_scoped_toks, _CLAIMS_SQL, 3,
        select=("claim_id, (doc_id // 1048576) AS doc_id, "
                "(doc_id % 1048576) AS sent_idx, rn AS rank"),
        order_by="round(score, 4) DESC, doc_id",
    )
    d["fever_submission"] = f"""
WITH top3 AS ({_fsub_top3}),
chunks AS (
  SELECT doc_id, i - 1 AS sent_idx,
         array_to_string(tl[(i-1)*10+1:i*10], ' ') AS sentence
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
          '[^a-z0-9]+'), t -> t <> '') AS tl FROM documents) b,
       unnest(range(1, CAST(ceil(len(tl)/10.0) AS INTEGER) + 1)) AS u(i)
),
claims(claim_id, claim) AS {_CLAIMS_SQL},
hashed AS (
  SELECT t.claim_id, sha256(c.claim || '|' || ch.sentence) AS h
  FROM top3 t
  JOIN chunks ch ON t.doc_id = ch.doc_id AND t.sent_idx = ch.sent_idx
  JOIN claims c ON c.claim_id = t.claim_id
),
lab AS (
  SELECT claim_id,
         CASE WHEN substr(h,1,8) >= substr(h,9,8)
                   AND substr(h,1,8) >= substr(h,17,8) THEN 'SUPPORTS'
              WHEN substr(h,9,8) >= substr(h,17,8) THEN 'REFUTES'
              ELSE 'NOT ENOUGH INFO' END AS label
  FROM hashed
),
votes AS (SELECT claim_id, label, count(*)::BIGINT AS n_votes
          FROM lab GROUP BY 1, 2),
best AS (SELECT claim_id, label AS predicted_label
         FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
                  ORDER BY n_votes DESC, label) AS rn FROM votes)
         WHERE rn = 1),
ev AS (
  SELECT claim_id,
         '[' || string_agg('["Doc_' || doc_id || '", ' || sent_idx || ']',
                           ', ' ORDER BY rank) || ']' AS evj
  FROM top3 GROUP BY 1
)
SELECT b.claim_id::BIGINT AS claim_id, b.predicted_label,
       '{{"id": ' || b.claim_id || ', "predicted_label": ' ||
       '"' || b.predicted_label || '", "predicted_evidence": ' || e.evj || '}}' AS line
FROM best b JOIN ev e USING (claim_id)
"""

    # percolate_v2 twin: full bool-query percolation in SQL — clause-doc
    # matches (conjunctive containment for terms clauses, the same anchor
    # trick for phrase clauses over a 1-based tokpos), then the ES
    # bool-filter rule: all must + no must_not + (>=1 should iff no must)
    _perc2_values = "(VALUES " + ", ".join(
        f"({q}, {c}, '{o}', '{kd}', '{t}')" for q, c, o, kd, t in PERC2_RULES
    ) + ")"
    d["percolate_matches_v2"] = f"""
WITH tl AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS t FROM documents
),
tokpos AS (
  SELECT doc_id, i AS pos, t[i] AS term FROM tl, unnest(range(1, len(t) + 1)) AS u(i)
),
toksd AS (SELECT DISTINCT doc_id, term FROM tokpos),
rules(query_id, clause_id, occur, kind, text) AS {_perc2_values},
cterms AS (
  SELECT DISTINCT query_id, clause_id, unnest(list_filter(
    regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
  FROM rules WHERE kind = 'terms'
),
nct AS (SELECT query_id, clause_id, count(*)::BIGINT AS n FROM cterms GROUP BY 1, 2),
tmatch AS (
  SELECT t.doc_id, c.query_id, c.clause_id, count(*)::BIGINT AS hit
  FROM toksd t JOIN cterms c ON c.term = t.term
  GROUP BY 1, 2, 3
),
tok AS (
  SELECT m.doc_id, m.query_id, m.clause_id
  FROM tmatch m JOIN nct n
    ON n.query_id = m.query_id AND n.clause_id = m.clause_id AND m.hit = n.n
),
pcl AS (
  SELECT query_id, clause_id, list_filter(
    regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS pt
  FROM rules WHERE kind = 'phrase'
),
pterms AS (
  SELECT query_id, clause_id, i - 1 AS pi, pt[i] AS term
  FROM pcl, unnest(range(1, len(pt) + 1)) AS u(i)
),
plen AS (SELECT query_id, clause_id, count(*)::BIGINT AS m FROM pterms GROUP BY 1, 2),
panch AS (
  SELECT tk.doc_id, p.query_id, p.clause_id, tk.pos - p.pi AS anchor,
         count(DISTINCT p.pi)::BIGINT AS c
  FROM tokpos tk JOIN pterms p ON p.term = tk.term
  GROUP BY 1, 2, 3, 4
),
pok AS (
  SELECT DISTINCT a.doc_id, a.query_id, a.clause_id
  FROM panch a JOIN plen l
    ON l.query_id = a.query_id AND l.clause_id = a.clause_id AND a.c = l.m
),
cm AS (SELECT * FROM tok UNION SELECT * FROM pok),
cmo AS (
  SELECT cm.doc_id, cm.query_id, r.occur
  FROM cm JOIN rules r ON r.query_id = cm.query_id AND r.clause_id = cm.clause_id
),
per AS (
  SELECT doc_id, query_id,
         sum(CASE WHEN occur = 'must' THEN 1 ELSE 0 END)::BIGINT AS n_must_m,
         sum(CASE WHEN occur = 'should' THEN 1 ELSE 0 END)::BIGINT AS n_should_m,
         sum(CASE WHEN occur = 'must_not' THEN 1 ELSE 0 END)::BIGINT AS n_not_m
  FROM cmo GROUP BY 1, 2
),
qs AS (
  SELECT query_id,
         sum(CASE WHEN occur = 'must' THEN 1 ELSE 0 END)::BIGINT AS n_must,
         sum(CASE WHEN occur = 'should' THEN 1 ELSE 0 END)::BIGINT AS n_should
  FROM rules GROUP BY 1
)
SELECT p.doc_id::BIGINT AS doc_id, p.query_id::BIGINT AS query_id,
       p.n_must_m AS n_must_matched, p.n_should_m AS n_should_matched
FROM per p JOIN qs ON qs.query_id = p.query_id
WHERE p.n_not_m = 0 AND p.n_must_m = qs.n_must
  AND (qs.n_must > 0 OR p.n_should_m >= 1)
"""

    # ann_method_eval twin: the hyperplanes are a pure deterministic function
    # of (dim, bit), so the SAME 4x64 float64 constants are inlined here
    # (repr() round-trips each double bit-exactly through DuckDB's literal
    # parser) and the whole computation — buckets, Hamming-1 probes, both
    # top-k sides, recall arithmetic — is recomputed in SQL. Sign tests are
    # portable because list_dot_product shares the engine kernel's
    # left-to-right float64 summation order (0 bucket mismatches, ~1e-3
    # minimum margin at sf0.01).
    from defactonlp_spark.operators.similarity import _hyperplane

    _planes = [_hyperplane(64, b) for b in range(ANN_EVAL_BITS)]
    _plane_lits = ["[" + ",".join(repr(c) for c in p) + "]::DOUBLE[]" for p in _planes]
    _bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {_plane_lits[b]}) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(ANN_EVAL_BITS)
    )
    _probe_list = "[qb" + "".join(
        f", xor(qb, {1 << b})" for b in range(ANN_EVAL_BITS)
    ) + "]"
    _qids = ",".join(str(i) for i in ANN_EVAL_QUERY_IDS)
    _cos = (
        "round(list_dot_product(qvec::DOUBLE[], {e}::DOUBLE[])"
        " / (sqrt(list_dot_product(qvec::DOUBLE[], qvec::DOUBLE[]))"
        " * sqrt(list_dot_product({e}::DOUBLE[], {e}::DOUBLE[]))), 6)"
    )
    # lsh_ann_topk twin (was rows-only until round 4): the SAME inlined-
    # hyperplane mechanics at the operator's real defaults (n_bits=8,
    # Hamming-1 multi-probe, k=10). Sign-test portability re-verified at
    # 8 planes over sf0.01: 0 bucket mismatches, min |dot| margin ~9.6e-4.
    from defactonlp_spark.operators.similarity import N_LSH_BITS

    _planes8 = [_hyperplane(64, b) for b in range(N_LSH_BITS)]
    _plane8_lits = ["[" + ",".join(repr(c) for c in p) + "]::DOUBLE[]" for p in _planes8]
    _bucket8_expr = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {_plane8_lits[b]}) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(N_LSH_BITS)
    )
    _probe8_list = "[qb" + "".join(
        f", xor(qb, {1 << b})" for b in range(N_LSH_BITS)
    ) + "]"
    d["lsh_ann_topk"] = f"""
WITH b AS (SELECT vec_id, embedding, ({_bucket8_expr})::INT AS bucket FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qvec, bucket AS qb FROM b
      WHERE vec_id IN ({_qids})),
probes AS (SELECT query_id, qvec, unnest({_probe8_list}) AS probe FROM q),
cand AS (
  SELECT DISTINCT p.query_id, p.qvec, e.vec_id, e.embedding
  FROM probes p JOIN b e ON e.bucket = p.probe AND e.vec_id <> p.query_id
),
ascored AS (SELECT query_id, vec_id, {_cos.format(e="embedding")} AS cos FROM cand)
SELECT query_id::BIGINT AS query_id, rn::BIGINT AS rank,
       vec_id::BIGINT AS vec_id, cos
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cos DESC, vec_id) AS rn FROM ascored)
WHERE rn <= {ANN_EVAL_K}
"""
    # lsh_dup_pairs twin (was rows-only until round 4): 4-bit buckets (the
    # SAME _plane_lits constants as ann_method_eval), one-sided Hamming<=1
    # probing with id_a < id_b (a pair meets on exactly one probe value —
    # XOR deltas are unique — so no dedup), exact rounded cosine rescore,
    # threshold filter. The engine's numpy rescore accumulates per-dimension
    # left-to-right, the exact list_dot_product order.
    d["lsh_dup_pairs"] = f"""
WITH b AS (SELECT vec_id, embedding, ({_bucket_expr})::INT AS bucket FROM embeddings),
a AS (
  SELECT vec_id AS id_a, embedding AS va,
         unnest([bucket{"".join(f", xor(bucket, {1 << bb})" for bb in range(ANN_EVAL_BITS))}]) AS probe
  FROM b
),
cand AS (
  SELECT a.id_a, a.va, e.vec_id AS id_b, e.embedding AS vb
  FROM a JOIN b e ON e.bucket = a.probe AND a.id_a < e.vec_id
),
scored AS (
  SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b,
         round(list_dot_product(va::DOUBLE[], vb::DOUBLE[])
               / (sqrt(list_dot_product(va::DOUBLE[], va::DOUBLE[]))
                  * sqrt(list_dot_product(vb::DOUBLE[], vb::DOUBLE[]))), 6) AS cos
  FROM cand
)
SELECT id_a, id_b, cos FROM scored WHERE cos >= {LSH_DUP_THRESHOLD}
"""
    d["ann_method_eval"] = f"""
WITH b AS (SELECT vec_id, embedding, ({_bucket_expr})::INT AS bucket FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qvec, bucket AS qb FROM b
      WHERE vec_id IN ({_qids})),
probes AS (SELECT query_id, qvec, unnest({_probe_list}) AS probe FROM q),
cand AS (
  SELECT p.query_id, p.qvec, e.vec_id, e.embedding
  FROM probes p JOIN b e ON e.bucket = p.probe AND e.vec_id <> p.query_id
),
ascored AS (SELECT query_id, vec_id, {_cos.format(e="embedding")} AS cos FROM cand),
approx AS (
  SELECT query_id, vec_id
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, vec_id) AS rn FROM ascored)
  WHERE rn <= {ANN_EVAL_K}
),
escored AS (
  SELECT q.query_id, e.vec_id,
         {_cos.format(e="e.embedding")} AS cos
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
),
exact AS (
  SELECT query_id, vec_id
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, vec_id) AS rn FROM escored)
  WHERE rn <= {ANN_EVAL_K}
),
na AS (SELECT query_id, count(*)::BIGINT AS n_approx FROM approx GROUP BY 1)
SELECT e.query_id::BIGINT AS query_id,
       count(*)::BIGINT AS n_exact,
       coalesce(any_value(na.n_approx), 0)::BIGINT AS n_approx,
       count(a.vec_id)::BIGINT AS n_overlap,
       round(count(a.vec_id) / {float(ANN_EVAL_K)}, 6) AS recall
FROM exact e
LEFT JOIN approx a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
LEFT JOIN na ON na.query_id = e.query_id
GROUP BY e.query_id
"""
    # -- parent-child block join (ES has_child / has_parent) ----------------
    d["has_child_topk"] = f"""
WITH ctoks AS ({_SENT_TOKS_SQL}),
postings AS (SELECT term, doc_id AS child_id, count(*)::BIGINT AS tf FROM ctoks GROUP BY 1, 2),
dl AS (SELECT doc_id AS child_id, count(*)::DOUBLE AS dl FROM ctoks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
cscored AS (
  SELECT q.claim_id, p.child_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.child_id = p.child_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
parents AS (
  SELECT claim_id, (child_id // 1048576) AS parent_id,
         max(score) AS score, count(*)::BIGINT AS n_children
  FROM cscored GROUP BY 1, 2
  HAVING count(*) >= {HAS_CHILD_MIN_CHILDREN}
)
SELECT claim_id::BIGINT AS claim_id, rn::BIGINT AS rank,
       parent_id::BIGINT AS parent_id, round(score, 4) AS score, n_children
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, parent_id) AS rn FROM parents)
WHERE rn <= {TOPK}
"""
    d["has_parent_children"] = f"""
WITH topd AS (
  {_bm25_sql(_TOKS_SQL, _CLAIMS_SQL, 3, select="claim_id, doc_id AS parent_id, score")}
),
chunks AS (
  SELECT doc_id AS parent_id, i - 1 AS child_idx
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                   t -> t <> '') AS tl FROM documents) b,
       unnest(range(1, CAST(ceil(len(tl)/10.0) AS INTEGER) + 1)) AS u(i)
)
SELECT t.claim_id::BIGINT AS claim_id, t.parent_id::BIGINT AS parent_id,
       c.child_idx::BIGINT AS child_idx, round(t.score, 4) AS score
FROM topd t JOIN chunks c USING (parent_id)
"""
    # -- ES rank_feature (saturation should-clause over the quality prior) --
    d["rank_feature_topk"] = f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
qbase AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toklist,
         length(text)::BIGINT AS n_chars,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE AS alpha
  FROM documents
),
qfeat AS (
  SELECT doc_id, len(toklist)::BIGINT AS n_tokens,
         CASE WHEN len(toklist) > 0
              THEN len(list_filter(toklist, t -> list_contains({{stop_list}}, t)))::DOUBLE / len(toklist)
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_chars > 0 THEN alpha / n_chars ELSE 0.0 END AS alpha_ratio
  FROM qbase
),
feats AS (
  SELECT doc_id,
         round(CASE WHEN n_tokens < 5 THEN 0.0
               ELSE least(greatest(alpha_ratio * (1.0 - greatest(stop_ratio - 0.5, 0.0)), 0.0), 1.0)
               END, 6) AS feature
  FROM qfeat
),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS bm25
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
final AS (
  SELECT s.claim_id, s.doc_id, s.bm25,
         s.bm25 + {RANK_FEATURE_BOOST} * coalesce(f.feature / (f.feature + {RANK_FEATURE_PIVOT}), 0.0) AS score
  FROM scored s LEFT JOIN feats f ON f.doc_id = s.doc_id
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id,
       round(bm25, 4) AS bm25, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rn FROM final)
WHERE rn <= {TOPK}
""".format(stop_list="['the', 'a', 'and', 'of', 'to', 'in', 'is', 'it', 'for', 'on']")
    # -- ES pipeline aggs over a gap-filled date_histogram -------------------
    d["events_pipeline_aggs"] = """
WITH buckets AS (
  SELECT date_trunc('hour', ts) AS bucket, count(*)::BIGINT AS n_events,
         sum(value) AS sum_value
  FROM events GROUP BY 1
),
bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM buckets),
grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds),
dense AS (
  SELECT g.bucket, coalesce(b.n_events, 0)::BIGINT AS n_events,
         coalesce(b.sum_value, 0.0) AS sum_value
  FROM grid g LEFT JOIN buckets b USING (bucket)
)
SELECT bucket::VARCHAR AS bucket, n_events,
       round(sum_value, 4) AS sum_value,
       (n_events - lag(n_events) OVER (ORDER BY bucket))::BIGINT AS derivative,
       (sum(n_events) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING))::BIGINT AS cumulative,
       round(avg(n_events) OVER (ORDER BY bucket
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg
FROM dense
"""
    # -- ES _termvectors (term_statistics=true) ------------------------------
    d["term_vectors"] = f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY 1),
tstats AS (SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS ttf
           FROM postings GROUP BY 1)
SELECT p.doc_id::BIGINT AS doc_id, p.term, p.tf, l.dl, s.df, s.ttf
FROM postings p
JOIN dl l USING (doc_id)
JOIN tstats s USING (term)
WHERE p.doc_id IN ({", ".join(str(i) for i in TERM_VECTOR_DOCS)})
"""
    # -- ES extended_stats (moment set from re-aggregable partials) ----------
    d["extended_stats_by_type"] = """
WITH agg AS (
  SELECT event_type, count(value)::BIGINT AS count,
         min(value) AS min, max(value) AS max,
         sum(value) AS sum, sum(value * value) AS sum_of_squares
  FROM events GROUP BY 1
)
SELECT event_type, count, round(min, 6) AS min, round(max, 6) AS max,
       round(sum, 4) AS sum,
       round(sum / count, 6) AS avg,
       round(sum_of_squares, 2) AS sum_of_squares,
       round(sum_of_squares / count - (sum / count) * (sum / count), 4) AS variance,
       round(sqrt(sum_of_squares / count - (sum / count) * (sum / count)), 6) AS std_deviation
FROM agg
"""
    # -- round-4 FINAL wave ---------------------------------------------------
    from defactonlp_spark.operators.geo import EARTH_RADIUS_KM, PI_OVER_180

    RAD = PI_OVER_180
    TWO_R = 2.0 * EARTH_RADIUS_KM
    # synthetic geo_point derivation — mirrors operators/geo.py::with_coords
    # op-for-op (md5 prefix -> uint32 -> scale), bit-identical doubles
    _COORDS_SQL = """
  SELECT doc_id, n_chars, source,
         (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
            / 4294967296.0) * 180.0 - 90.0 AS lat,
         (('0x' || substr(md5(doc_id::VARCHAR), 9, 8))::BIGINT
            / 4294967296.0) * 360.0 - 180.0 AS lon
  FROM documents"""
    # haversine mirrored op-for-op (shared literals for rad and 2R; libm
    # sin/cos/asin may differ by an ulp -> rank on round(dist, 6))
    _DIST_SQL = (
        f"{TWO_R!r} * asin(sqrt("
        f"sin((({GEO_QLAT!r} - lat) * {RAD!r}) / 2.0)"
        f" * sin((({GEO_QLAT!r} - lat) * {RAD!r}) / 2.0)"
        f" + cos(lat * {RAD!r}) * cos({GEO_QLAT!r} * {RAD!r})"
        f" * sin((({GEO_QLON!r} - lon) * {RAD!r}) / 2.0)"
        f" * sin((({GEO_QLON!r} - lon) * {RAD!r}) / 2.0)))"
    )
    d["geo_distance_topk"] = f"""
WITH coords AS ({_COORDS_SQL}),
dist AS (SELECT doc_id, lat, lon, {_DIST_SQL} AS dist_km FROM coords),
within AS (SELECT * FROM dist WHERE round(dist_km, 6) <= {GEO_RADIUS_KM!r})
SELECT row_number() OVER (ORDER BY round(dist_km, 6), doc_id)::BIGINT AS rank,
       doc_id::BIGINT AS doc_id, round(lat, 6) AS lat, round(lon, 6) AS lon,
       round(dist_km, 4) AS dist_km
FROM within ORDER BY round(dist_km, 6), doc_id LIMIT {GEO_K}
"""
    _GN = float(1 << GEO_ZOOM)
    _GHI = (1 << GEO_ZOOM) - 1
    d["geo_grid_agg"] = f"""
WITH coords AS ({_COORDS_SQL}),
cells AS (
  SELECT least(greatest(floor((lon + 180.0) / 360.0 * {_GN!r}), 0), {_GHI})::BIGINT AS cell_x,
         least(greatest(floor((lat + 90.0) / 180.0 * {_GN!r}), 0), {_GHI})::BIGINT AS cell_y,
         n_chars::DOUBLE AS n_chars
  FROM coords
),
agg AS (SELECT cell_x, cell_y, count(*)::BIGINT AS n_docs, avg(n_chars) AS avg_chars
        FROM cells GROUP BY 1, 2)
SELECT row_number() OVER (ORDER BY n_docs DESC, cell_x, cell_y)::BIGINT AS rank,
       cell_x, cell_y, n_docs, round(avg_chars, 6) AS avg_chars
FROM agg ORDER BY n_docs DESC, cell_x, cell_y LIMIT {GEO_GRID_TOP}
"""
    d["geo_bbox_stats"] = f"""
WITH coords AS ({_COORDS_SQL})
SELECT source AS "group", count(*)::BIGINT AS n_docs,
       round(avg(n_chars::DOUBLE), 6) AS avg_chars
FROM coords
WHERE lat >= {GEO_BBOX[0]!r} AND lat <= {GEO_BBOX[1]!r}
  AND lon >= {GEO_BBOX[2]!r} AND lon <= {GEO_BBOX[3]!r}
GROUP BY 1
"""
    _JM_RATIO = (1.0 - LM_LAMBDA) / LM_LAMBDA
    d["lm_jm_topk"] = f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
tot AS (SELECT sum(dl) AS t FROM dl),
ctf AS (SELECT term, sum(tf)::DOUBLE AS ctf FROM postings GROUP BY 1),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
q AS (SELECT qt.claim_id, qt.term, c.ctf FROM qterms qt JOIN ctf c ON c.term = qt.term),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum(ln(1 + {_JM_RATIO!r} * (p.tf / l.dl) / (q.ctf / t.t))) AS score
  FROM q JOIN postings p ON p.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN tot t
  GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rn FROM scored)
WHERE rn <= {TOPK}
"""
    _INV_LN2 = 1.4426950408889634
    d["dfr_inl2_topk"] = f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum( (1.0 / (p.tf * (ln(1.0 + s.avgdl / l.dl) * {_INV_LN2!r}) + 1.0))
              * (p.tf * (ln(1.0 + s.avgdl / l.dl) * {_INV_LN2!r}))
              * (ln((s.n + 1.0) / (d.df + 0.5)) * {_INV_LN2!r}) ) AS score
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rn FROM scored)
WHERE rn <= {TOPK}
"""
    _PCT_VALS = ", ".join(f"({v!r})" for v in PCTRANK_VALUES)
    d["percentile_ranks"] = f"""
SELECT e.event_type, round(v.value, 6) AS value,
       round(avg(CASE WHEN e.value <= v.value THEN 1.0 ELSE 0.0 END) * 100.0, 6) AS pct
FROM events e CROSS JOIN (VALUES {_PCT_VALS}) AS v(value)
GROUP BY 1, 2
"""
    # matrix_stats: identities mirrored with explicit association
    # (cov = sxy/n - (sx/n)*(sy/n)) over the entry's round(x * 100) longs,
    # so every partial is an exact integer-valued sum; means scale back by
    # 100 and covariance by 10^4 after the identity, as in the entry
    _MS_PAIRS = [("l_quantity", "l_discount"), ("l_quantity", "l_tax"), ("l_discount", "l_tax")]
    _ms_sel = " UNION ALL ".join(
        f"""SELECT l_returnflag, '{a}' AS field_x, '{b}' AS field_y, n::BIGINT AS count,
  round((s_{a} / n) / 100::DOUBLE, 6) AS mean_x, round((s_{b} / n) / 100::DOUBLE, 6) AS mean_y,
  round((sx_{a}_{b} / n - (s_{a} / n) * (s_{b} / n)) / 10000::DOUBLE, 6) AS covariance,
  round((sx_{a}_{b} / n - (s_{a} / n) * (s_{b} / n))
        / sqrt((ss_{a} / n - (s_{a} / n) * (s_{a} / n))
               * (ss_{b} / n - (s_{b} / n) * (s_{b} / n))), 6) AS correlation
FROM agg"""
        for a, b in _MS_PAIRS
    )
    d["matrix_stats"] = f"""
WITH agg AS (
  SELECT l_returnflag, count(*)::DOUBLE AS n,
         sum(l_quantity::DOUBLE) AS s_l_quantity,
         sum(l_quantity::DOUBLE * l_quantity::DOUBLE) AS ss_l_quantity,
         sum(l_discount::DOUBLE) AS s_l_discount,
         sum(l_discount::DOUBLE * l_discount::DOUBLE) AS ss_l_discount,
         sum(l_tax::DOUBLE) AS s_l_tax,
         sum(l_tax::DOUBLE * l_tax::DOUBLE) AS ss_l_tax,
         sum(l_quantity::DOUBLE * l_discount::DOUBLE) AS sx_l_quantity_l_discount,
         sum(l_quantity::DOUBLE * l_tax::DOUBLE) AS sx_l_quantity_l_tax,
         sum(l_discount::DOUBLE * l_tax::DOUBLE) AS sx_l_discount_l_tax
  FROM (SELECT l_returnflag, round(l_quantity * 100)::BIGINT AS l_quantity,
               round(l_discount * 100)::BIGINT AS l_discount,
               round(l_tax * 100)::BIGINT AS l_tax FROM lineitem) GROUP BY 1
)
{_ms_sel}
"""
    d["bucket_pipeline"] = f"""
WITH b AS (
  SELECT event_type AS bucket, count(*)::BIGINT AS n_rows, sum(value) AS sum_value
  FROM events GROUP BY 1
),
s AS (SELECT bucket, n_rows, sum_value, sum_value / n_rows AS avg_value FROM b)
SELECT bucket, n_rows, round(sum_value, 4) AS sum_value, round(avg_value, 6) AS avg_value
FROM s WHERE round(avg_value, 6) > {BUCKET_MIN_AVG!r}
ORDER BY round(avg_value, 6) DESC, bucket LIMIT 10
"""
    _INVL2 = 1.4426950408889634
    d["dfi_topk"] = f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
tot AS (SELECT sum(dl) AS t FROM dl),
ctf AS (SELECT term, sum(tf)::DOUBLE AS ctf FROM postings GROUP BY 1),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum(CASE WHEN p.tf > l.dl * c.ctf / t.t
             THEN ln(1 + (p.tf - l.dl * c.ctf / t.t) * (p.tf - l.dl * c.ctf / t.t)
                         / (l.dl * c.ctf / t.t)) * {_INVL2!r}
             ELSE 0.0 END) AS score
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN ctf c ON c.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN tot t
  GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rn FROM scored)
WHERE rn <= {TOPK}
"""
    d["ib_spl_topk"] = f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
terms AS (
  SELECT q.claim_id, p.doc_id,
         (d.df + 1.0) / (s.n + 1.0) AS lam,
         p.tf * (ln(1.0 + s.avgdl / l.dl) * {_INVL2!r}) AS tfn
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  WHERE d.df < s.n
),
scored AS (
  SELECT claim_id, doc_id,
         sum(-(ln((pow(lam, tfn / (tfn + 1.0)) - lam) / (1.0 - lam)) * {_INVL2!r})) AS score
  FROM terms GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rn FROM scored)
WHERE rn <= {TOPK}
"""
    d["axiomatic_topk"] = f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum(pow(s.n / d.df, 0.35) * p.tf
             / (p.tf + 0.5 + 0.5 * l.dl / s.avgdl)) AS score
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rn FROM scored)
WHERE rn <= {TOPK}
"""
    # rrf_fusion_topk: the LMD and DFR CTE blocks replayed with rn <= window,
    # fused by a FULL OUTER join — same fixed two-term addition as the engine
    d["rrf_fusion_topk"] = f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tot AS (SELECT sum(dl) AS t FROM dl),
ctf AS (SELECT term, sum(tf)::DOUBLE AS ctf FROM postings GROUP BY 1),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
q AS (SELECT qt.claim_id, qt.term, c.ctf FROM qterms qt JOIN ctf c ON c.term = qt.term),
nq AS (SELECT claim_id, count(*)::DOUBLE AS n_q_in FROM q GROUP BY 1),
lmd_s AS (
  SELECT q.claim_id, p.doc_id,
         sum(ln(1 + p.tf / ({LM_MU} * q.ctf / t.t))) AS tsum,
         min(l.dl) AS dl
  FROM q JOIN postings p ON p.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN tot t
  GROUP BY 1, 2
),
lmd_f AS (
  SELECT s.claim_id, s.doc_id,
         s.tsum + n.n_q_in * ln({LM_MU} / (s.dl + {LM_MU})) AS score
  FROM lmd_s s JOIN nq n ON n.claim_id = s.claim_id
),
lmd AS (
  SELECT * FROM (SELECT claim_id, doc_id, row_number() OVER (PARTITION BY claim_id
           ORDER BY round(score, 6) DESC, doc_id) AS rn FROM lmd_f)
  WHERE rn <= {RRF_WINDOW}
),
dfr_s AS (
  SELECT q.claim_id, p.doc_id,
         sum( (1.0 / (p.tf * (ln(1.0 + s.avgdl / l.dl) * {_INVL2!r}) + 1.0))
              * (p.tf * (ln(1.0 + s.avgdl / l.dl) * {_INVL2!r}))
              * (ln((s.n + 1.0) / (d.df + 0.5)) * {_INVL2!r}) ) AS score
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
dfr AS (
  SELECT * FROM (SELECT claim_id, doc_id, row_number() OVER (PARTITION BY claim_id
           ORDER BY round(score, 6) DESC, doc_id) AS rn FROM dfr_s)
  WHERE rn <= {RRF_WINDOW}
),
fused AS (
  SELECT coalesce(a.claim_id, b.claim_id) AS claim_id,
         coalesce(a.doc_id, b.doc_id) AS doc_id,
         round(coalesce(1.0 / ({RRF_CONST} + a.rn), 0.0)
           + coalesce(1.0 / ({RRF_CONST} + b.rn), 0.0), 9) AS rrf
  FROM lmd a FULL OUTER JOIN dfr b
    ON a.claim_id = b.claim_id AND a.doc_id = b.doc_id
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(rrf, 6) AS rrf
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY rrf DESC, doc_id) AS rk FROM fused)
WHERE rk <= {RRF_K}
"""
    # query_string_topk: clause VALUES generated from the SAME parsed
    # constants as the engine (parser itself is pytest-tested; execution is
    # what the twin checks — same convention as the percolator rules)
    from defactonlp_spark.operators.querystring import parse_simple_query_string

    _qs_tc, _qs_pc, _qs_pt, _qs_px, _qs_nm = [], [], [], [], []
    for _cid, _q in QS_QUERIES:
        _cls = parse_simple_query_string(_q)
        _qs_nm.append(f"({_cid}, {sum(1 for c in _cls if c.pri == 1)})")
        for _j, _c in enumerate(_cls):
            if _c.kind == "term":
                _qs_tc.append(f"({_cid}, {_j}, {_c.pri}, '{_c.tokens[0]}')")
            elif _c.kind == "prefix":
                _qs_px.append(f"({_cid}, {_j}, {_c.pri}, '{_c.tokens[0]}')")
            else:
                _qs_pc.append(f"({_cid}, {_j}, {_c.pri}, ' {' '.join(_c.tokens)} ')")
                for _t in sorted(set(_c.tokens)):
                    _qs_pt.append(f"({_cid}, {_j}, '{_t}')")
    _QS_BM25 = (
        f"ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * p.tf * {K1 + 1.0} "
        f"/ (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl))"
    )
    d["query_string_topk"] = f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
docstr AS (
  SELECT doc_id, ' ' || array_to_string(list_filter(regexp_split_to_array(lower(text),
    '[^a-z0-9]+'), t -> t <> ''), ' ') || ' ' AS s FROM documents
),
tc(claim_id, clause_id, pri, term) AS (VALUES {", ".join(_qs_tc)}),
pc(claim_id, clause_id, pri, p) AS (VALUES {", ".join(_qs_pc)}),
pt(claim_id, clause_id, term) AS (VALUES {", ".join(_qs_pt)}),
px(claim_id, clause_id, pri, pre) AS (VALUES {", ".join(_qs_px)}),
nm(claim_id, n_must) AS (VALUES {", ".join(_qs_nm)}),
term_hits AS (
  SELECT tc.claim_id, tc.clause_id, tc.pri, p.doc_id, {_QS_BM25} AS contrib
  FROM tc JOIN postings p ON p.term = tc.term
  JOIN dfreq d ON d.term = tc.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
),
pmatch AS (
  SELECT pc.claim_id, pc.clause_id, pc.pri, ds.doc_id
  FROM pc JOIN docstr ds ON ds.s LIKE '%' || pc.p || '%'
),
phrase_hits AS (
  SELECT m.claim_id, m.clause_id, m.pri, m.doc_id, sum({_QS_BM25}) AS contrib
  FROM pmatch m
  JOIN pt ON pt.claim_id = m.claim_id AND pt.clause_id = m.clause_id
  JOIN postings p ON p.term = pt.term AND p.doc_id = m.doc_id
  JOIN dfreq d ON d.term = pt.term
  JOIN dl l ON l.doc_id = m.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2, 3, 4
),
prefix_hits AS (
  SELECT DISTINCT px.claim_id, px.clause_id, px.pri, p.doc_id, 1.0 AS contrib
  FROM px JOIN postings p ON p.term LIKE px.pre || '%'
),
hits AS (
  SELECT * FROM term_hits UNION ALL SELECT * FROM phrase_hits
  UNION ALL SELECT * FROM prefix_hits
),
agg AS (
  SELECT claim_id, doc_id,
         sum(CASE WHEN pri <> 0 THEN contrib ELSE 0.0 END) AS score,
         sum(CASE WHEN pri = 1 THEN 1 ELSE 0 END) AS n_must_m,
         sum(CASE WHEN pri = 0 THEN 1 ELSE 0 END) AS n_not_m,
         sum(CASE WHEN pri = 2 THEN 1 ELSE 0 END) AS n_should_m
  FROM hits GROUP BY 1, 2
),
kept AS (
  SELECT a.claim_id, a.doc_id, a.score
  FROM agg a JOIN nm ON nm.claim_id = a.claim_id
  WHERE a.n_not_m = 0 AND a.n_must_m = nm.n_must
    AND (nm.n_must > 0 OR a.n_should_m >= 1)
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rn FROM kept)
WHERE rn <= {TOPK}
"""
    d["string_stats_by_lang"] = f"""
WITH lens AS (
  SELECT lang, count(*)::BIGINT AS n_docs, min(length(text))::BIGINT AS min_length,
         max(length(text))::BIGINT AS max_length, avg(length(text)::DOUBLE) AS avg_length
  FROM documents GROUP BY 1
),
chars AS (SELECT lang, unnest(string_split(text, '')) AS ch FROM documents),
cc AS (SELECT lang, ch, count(*)::DOUBLE AS c FROM chars WHERE ch <> '' GROUP BY 1, 2),
tt AS (SELECT lang, sum(c) AS t FROM cc GROUP BY 1),
ent AS (
  SELECT cc.lang, sum(-(c / t) * (ln(c / t) * {_INVL2!r})) AS entropy
  FROM cc JOIN tt ON tt.lang = cc.lang GROUP BY 1
)
SELECT l.lang, l.n_docs, l.min_length, l.max_length,
       round(l.avg_length, 6) AS avg_length, round(e.entropy, 6) AS entropy
FROM lens l JOIN ent e ON e.lang = l.lang
"""
    d["value_mad"] = """
WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS median FROM events GROUP BY 1)
SELECT e.event_type, round(m.median, 6) AS median,
       round(quantile_cont(abs(e.value - m.median), 0.5), 6) AS mad
FROM events e JOIN med m ON m.event_type = e.event_type
GROUP BY 1, m.median
"""
    d["value_boxplot"] = """
SELECT event_type, round(min(value), 6) AS min,
       round(quantile_cont(value, 0.25), 6) AS q1,
       round(quantile_cont(value, 0.5), 6) AS q2,
       round(quantile_cont(value, 0.75), 6) AS q3,
       round(max(value), 6) AS max,
       round(quantile_cont(value, 0.75) - quantile_cont(value, 0.25), 6) AS iqr
FROM events GROUP BY 1
"""
    d["ttest_purchase_click"] = """
WITH agg AS (
  SELECT count(CASE WHEN event_type = 'purchase' THEN value END)::DOUBLE AS n_a,
         sum(CASE WHEN event_type = 'purchase' THEN value END) AS s_a,
         sum(CASE WHEN event_type = 'purchase' THEN value * value END) AS ss_a,
         count(CASE WHEN event_type = 'click' THEN value END)::DOUBLE AS n_b,
         sum(CASE WHEN event_type = 'click' THEN value END) AS s_b,
         sum(CASE WHEN event_type = 'click' THEN value * value END) AS ss_b
  FROM events
),
terms AS (
  SELECT n_a, n_b, s_a / n_a AS m_a, s_b / n_b AS m_b,
         ((ss_a - s_a * s_a / n_a) / (n_a - 1.0)) / n_a AS va_n,
         ((ss_b - s_b * s_b / n_b) / (n_b - 1.0)) / n_b AS vb_n
  FROM agg
)
SELECT n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
       round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
       round((m_a - m_b) / sqrt(va_n + vb_n), 6) AS t_stat,
       round((va_n + vb_n) * (va_n + vb_n)
             / (va_n * va_n / (n_a - 1.0) + vb_n * vb_n / (n_b - 1.0)), 4) AS df
FROM terms
"""
    d["events_rate_daily"] = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       count(*)::BIGINT AS n_events,
       round(sum(value), 4) AS sum_value,
       round(sum(value) / 24.0, 6) AS rate_per_hour
FROM events GROUP BY date_trunc('day', ts)
"""
    d["multi_terms_agg"] = """
SELECT source, lang, count(*)::BIGINT AS doc_count,
       round(avg(n_chars::DOUBLE), 6) AS avg_chars
FROM documents GROUP BY 1, 2
ORDER BY doc_count DESC, source, lang LIMIT 10
"""
    from defactonlp_spark.operators.analytics import AUTO_DH_LADDER as AUTO_DH_LADDER_SQL

    _adh_case = " ".join(
        f"WHEN hi // {r} - lo // {r} + 1 <= {AUTO_DH_TARGET} THEN {r}"
        for r in AUTO_DH_LADDER_SQL[:-1]
    )
    d["auto_date_hist"] = f"""
WITH se AS (
  SELECT floor(epoch(min(ts)))::BIGINT AS lo, floor(epoch(max(ts)))::BIGINT AS hi
  FROM events
),
sel AS (SELECT (CASE {_adh_case} ELSE {AUTO_DH_LADDER_SQL[-1]} END)::BIGINT AS iv FROM se)
SELECT iv AS interval_sec,
       (floor(epoch(ts))::BIGINT // iv) * iv AS bucket_start,
       count(*)::BIGINT AS doc_count, round(sum(value), 4) AS sum_value
FROM events CROSS JOIN sel
GROUP BY 1, 2
"""
    d["geo_centroid_bounds"] = f"""
WITH coords AS ({_COORDS_SQL})
SELECT source AS "group", count(*)::BIGINT AS n_docs,
       round(avg(lat), 6) AS centroid_lat, round(avg(lon), 6) AS centroid_lon,
       round(max(lat), 6) AS top_left_lat, round(min(lon), 6) AS top_left_lon,
       round(min(lat), 6) AS bottom_right_lat, round(max(lon), 6) AS bottom_right_lon
FROM coords GROUP BY 1
"""
    # phrase_suggest: per-length sequence enumeration unrolled into SQL joins,
    # generated from the SAME tokenized inputs as the engine (parser/tokenizer
    # constants shared; the LM scoring + candidate ranking is what the twin
    # checks). Stupid-backoff alpha = 0.4 (the engine default).
    from defactonlp_spark.functions.tokenize import tokenize_one as _tok1

    _sg_rows, _sg_lens = [], {}
    for _cid, _ph in SUGGEST_INPUTS:
        _ts = _tok1(_ph)[:6]
        if not _ts:
            continue
        _sg_lens[_cid] = len(_ts)
        for _i, _t in enumerate(_ts):
            _sg_rows.append(f"({_cid}, {_i}, '{_t}')")
    _sg_parts = []
    for _L in sorted(set(_sg_lens.values())):
        _ids = ", ".join(str(c) for c, n in sorted(_sg_lens.items()) if n == _L)
        _joins, _score, _sugg = [], ["ln(c0.ctf / t.t) - ln(1.0 + c0.dist)"], ["c0.cand"]
        for _i in range(1, _L):
            _joins.append(
                f"JOIN cand c{_i} ON c{_i}.claim_id = c0.claim_id AND c{_i}.pos = {_i}\n"
                f"  LEFT JOIN big b{_i} ON b{_i}.bg = c{_i - 1}.cand || ' ' || c{_i}.cand"
            )
            _score.append(
                f"+ coalesce(ln(b{_i}.c / c{_i - 1}.ctf), ln(0.4 * c{_i}.ctf / t.t)) "
                f"- ln(1.0 + c{_i}.dist)"
            )
            _sugg.append(f"c{_i}.cand")
        _sg_parts.append(
            f"""SELECT c0.claim_id, {" || ' ' || ".join(_sugg)} AS suggestion,
       {" ".join(_score)} AS score
FROM cand c0 {" ".join(_joins)}
CROSS JOIN tot t
WHERE c0.pos = 0 AND c0.claim_id IN ({_ids})"""
        )
    _sg_union = "\nUNION ALL\n".join(_sg_parts)
    d["phrase_suggest"] = f"""
WITH toks AS ({_TOKS_SQL}),
ctf AS (SELECT term, count(*)::DOUBLE AS ctf FROM toks GROUP BY 1),
tot AS (SELECT sum(ctf) AS t FROM ctf),
tl AS (SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                          x -> x <> '') AS ts FROM documents),
bgl AS (SELECT unnest([array_to_string(ts[i:i+1], ' ')
                       for i in range(1, len(ts))]) AS bg FROM tl),
big AS (SELECT bg, count(*)::DOUBLE AS c FROM bgl GROUP BY 1),
q(claim_id, pos, qterm) AS (VALUES {", ".join(_sg_rows)}),
cand AS (
  SELECT claim_id, pos, c.term AS cand,
         levenshtein(q.qterm, c.term)::DOUBLE AS dist, c.ctf
  FROM q JOIN ctf c ON abs(length(c.term) - length(q.qterm)) <= 1
  WHERE levenshtein(q.qterm, c.term) <= 1
  QUALIFY row_number() OVER (PARTITION BY claim_id, pos
    ORDER BY levenshtein(q.qterm, c.term), c.ctf DESC, c.term) <= 3
),
allseq AS (
{_sg_union}
)
SELECT claim_id::BIGINT AS claim_id, suggestion, round(score, 6) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, suggestion) AS rn FROM allseq)
WHERE rn <= 3
"""
    d["semdedup_keep_stats"] = f"""
WITH RECURSIVE b AS (SELECT vec_id, embedding, ({_bucket_expr})::INT AS bucket FROM embeddings),
a AS (
  SELECT vec_id AS id_a, embedding AS va,
         unnest([bucket{"".join(f", xor(bucket, {1 << bb})" for bb in range(ANN_EVAL_BITS))}]) AS probe
  FROM b
),
cand AS (
  SELECT a.id_a, a.va, e.vec_id AS id_b, e.embedding AS vb
  FROM a JOIN b e ON e.bucket = a.probe AND a.id_a < e.vec_id
),
pairs AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT id_a, id_b,
           round(list_dot_product(va::DOUBLE[], vb::DOUBLE[])
                 / (sqrt(list_dot_product(va::DOUBLE[], va::DOUBLE[]))
                    * sqrt(list_dot_product(vb::DOUBLE[], vb::DOUBLE[]))), 6) AS cos
    FROM cand
  ) WHERE cos >= {LSH_DUP_THRESHOLD}
),
edges AS (SELECT id_a AS ea, id_b AS eb FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT ea, ea FROM edges
  UNION
  SELECT e.ea, reach.r FROM edges e JOIN reach ON reach.id = e.eb
),
comp AS (SELECT id, min(r) AS component_id FROM reach GROUP BY id),
cl AS (
  -- universe = the EMBEDDINGS table (docs without a vector cannot be
  -- semantically deduped); at sf0.1 embeddings are a strict subset of
  -- documents, which a documents-universe twin got wrong
  SELECT em.vec_id AS doc_id, d.source,
         coalesce(c.component_id, em.vec_id) AS component_id
  FROM embeddings em
  JOIN documents d ON d.doc_id = em.vec_id
  LEFT JOIN comp c ON c.id = em.vec_id
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN component_id = doc_id THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       sum(CASE WHEN component_id <> doc_id THEN 1 ELSE 0 END)::BIGINT AS n_dropped
FROM cl GROUP BY 1
"""
    # weights VALUES generated from the engine's own quality_weights_k so
    # the twin can never drift; integer numerators summed exactly, then the
    # same two divisions as the kernel (ADVICE r4: order-independent 6dp).
    from defactonlp_spark.functions.textstats import quality_weights_k

    _ql_w = ", ".join(f"({b}, {k})" for b, k in enumerate(quality_weights_k()))
    d["quality_linear_scores"] = f"""
WITH tl AS (SELECT doc_id, lower(text) AS t FROM documents),
g AS (SELECT doc_id, unnest([t[i:i+2] for i in range(1, length(t)-1)]) AS g FROM tl),
b AS (SELECT doc_id, (('0x' || substr(md5(g), 1, 8))::BIGINT % 64) AS bucket FROM g),
w(bucket, wt_k) AS (VALUES {_ql_w}),
x AS (SELECT doc_id, count(*)::BIGINT AS n_grams,
             round(sum(wt_k)::BIGINT / 1000.0 / count(*), 6) AS x
      FROM b JOIN w ON w.bucket = b.bucket GROUP BY 1)
SELECT d.doc_id, coalesce(x.n_grams, 0)::BIGINT AS n_grams,
       round(CASE WHEN x.doc_id IS NULL THEN 0.5
             ELSE 1.0 / (1.0 + exp(-x.x)) END, 6) AS quality_score
FROM documents d LEFT JOIN x ON x.doc_id = d.doc_id
"""
    d["random_sampler_agg"] = """
SELECT event_type, count(*)::BIGINT AS n_sampled,
       round(count(*) * 10.0, 6) AS est_count,
       round(avg(value), 6) AS avg_value
FROM events
WHERE (('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT % 1000) < 100
GROUP BY 1
"""
    _div_ranked = _bm25_sql(toks, _CLAIMS_SQL, RRF_WINDOW, select="claim_id, doc_id, score, rn")
    d["diversified_sample_stats"] = f"""
WITH ranked AS ({_div_ranked}),
div AS (
  SELECT r.claim_id, r.doc_id, r.score, r.rn, d.source,
         row_number() OVER (PARTITION BY r.claim_id, d.source ORDER BY r.rn) AS pv
  FROM ranked r JOIN documents d ON d.doc_id = r.doc_id
),
pos AS (
  SELECT *, row_number() OVER (PARTITION BY claim_id ORDER BY rn) AS pos
  FROM div WHERE pv <= 2
)
SELECT claim_id::BIGINT AS claim_id, count(*)::BIGINT AS n_sample,
       count(DISTINCT source)::BIGINT AS n_values,
       round(avg(score), 4) AS avg_score
FROM pos WHERE pos <= 10 GROUP BY 1
"""
    _pin_ranked = _bm25_sql(toks, _CLAIMS_SQL, RRF_K, select="claim_id, doc_id, score, rn")
    d["pinned_topk"] = f"""
WITH ranked AS ({_pin_ranked}),
pins(claim_id, doc_id, pin_pos) AS (VALUES (0, 7, 1), (0, 11, 2), (1, 3, 1), (2, 42, 1), (2, 5, 2)),
p AS (
  SELECT pins.claim_id, pins.doc_id, TRUE AS pinned,
         coalesce(r.score, 0.0) AS score, 0 AS tier, pins.pin_pos::BIGINT AS ord
  FROM pins LEFT JOIN ranked r
    ON r.claim_id = pins.claim_id AND r.doc_id = pins.doc_id
),
o AS (
  SELECT r.claim_id, r.doc_id, FALSE AS pinned, r.score, 1 AS tier, r.rn::BIGINT AS ord
  FROM ranked r ANTI JOIN pins
    ON pins.claim_id = r.claim_id AND pins.doc_id = r.doc_id
),
u AS (SELECT * FROM p UNION ALL SELECT * FROM o),
rk AS (
  SELECT claim_id, doc_id, pinned, score,
         row_number() OVER (PARTITION BY claim_id ORDER BY tier, ord, doc_id) AS rank
  FROM u
)
SELECT claim_id::BIGINT AS claim_id, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id,
       pinned, round(score, 4) AS score
FROM rk WHERE rank <= {RRF_K}
"""
    d["corpus_zipf"] = f"""
WITH toks AS ({_TOKS_SQL}),
tot AS (SELECT term, count(*)::DOUBLE AS freq FROM toks GROUP BY 1),
xy AS (
  SELECT ln(row_number() OVER (ORDER BY freq DESC, term)::DOUBLE) AS x,
         ln(freq) AS y
  FROM tot
),
agg AS (
  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM xy
)
SELECT n::BIGINT AS n_terms,
       round((sxy / n - (sx / n) * (sy / n)) / (sxx / n - (sx / n) * (sx / n)), 6) AS slope,
       round(sy / n - ((sxy / n - (sx / n) * (sy / n))
             / (sxx / n - (sx / n) * (sx / n))) * (sx / n), 6) AS intercept,
       round((sxy / n - (sx / n) * (sy / n)) * (sxy / n - (sx / n) * (sy / n))
             / ((sxx / n - (sx / n) * (sx / n)) * (syy / n - (sy / n) * (sy / n))), 6) AS r2
FROM agg
"""
    d["heaps_growth"] = f"""
WITH toks AS ({_TOKS_SQL}),
per_doc AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY 1),
doc_b AS (SELECT doc_id // {HEAPS_BUCKET} AS bucket, count(*)::BIGINT AS docs,
                 sum(dl)::BIGINT AS tk FROM per_doc GROUP BY 1),
firsts AS (SELECT term, min(doc_id) AS fd FROM toks GROUP BY 1),
new_b AS (SELECT fd // {HEAPS_BUCKET} AS bucket, count(*)::BIGINT AS nt FROM firsts GROUP BY 1),
j AS (
  SELECT d.bucket, d.docs, d.tk, coalesce(n.nt, 0) AS nt
  FROM doc_b d LEFT JOIN new_b n ON n.bucket = d.bucket
)
SELECT bucket,
       sum(docs) OVER w::BIGINT AS n_docs_seen,
       sum(tk) OVER w::BIGINT AS n_tokens_seen,
       sum(nt) OVER w::BIGINT AS vocab_size
FROM j
WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""
    # ndcg_pruned: exhaustive truth + pruned eval composed, graded eval math
    _ndcg_truth = _bm25_sql(toks, _CLAIMS_SQL, RRF_K, select="claim_id, doc_id, rn")
    d["ndcg_pruned"] = f"""
WITH truth AS ({_ndcg_truth}),
toks2 AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks2 GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks2 GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
impacts AS (
  SELECT p.term, p.doc_id, p.tf,
         round( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
                * p.tf * {K1 + 1.0}
                / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)), 6) AS impact
  FROM postings p
  JOIN dfreq d ON d.term = p.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
),
pruned AS (
  SELECT term, doc_id, tf
  FROM (SELECT *, row_number() OVER (PARTITION BY term
          ORDER BY impact DESC, doc_id) AS prn FROM impacts)
  WHERE prn <= {PRUNE_KEEP_N}
),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
pscored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM qterms q
  JOIN pruned p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
ev AS (
  SELECT claim_id, doc_id, rn AS pos
  FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
          ORDER BY score DESC, doc_id) AS rn FROM pscored)
  WHERE rn <= {RRF_K}
),
graded AS (
  SELECT claim_id, doc_id, rn AS t_rank,
         greatest(0.0, 4.0 - floor((rn - 1) / 2.0)) AS g
  FROM truth
),
idcg AS (
  SELECT claim_id, sum((pow(2.0, g) - 1.0)
         / (ln(t_rank::DOUBLE + 1.0) * {_INVL2!r})) AS idcg
  FROM graded WHERE t_rank <= {RRF_K} GROUP BY 1
),
dcg AS (
  SELECT e.claim_id,
         sum((pow(2.0, coalesce(t.g, 0.0)) - 1.0)
             / (ln(e.pos::DOUBLE + 1.0) * {_INVL2!r})) AS dcg,
         min(CASE WHEN coalesce(t.g, 0.0) >= 3.0 THEN e.pos END) AS first_rel
  FROM ev e LEFT JOIN graded t ON t.claim_id = e.claim_id AND t.doc_id = e.doc_id
  GROUP BY 1
)
SELECT i.claim_id::BIGINT AS claim_id,
       round(coalesce(d2.dcg, 0.0), 6) AS dcg,
       round(i.idcg, 6) AS idcg,
       round(coalesce(d2.dcg, 0.0) / i.idcg, 6) AS ndcg,
       round(coalesce(1.0 / d2.first_rel, 0.0), 6) AS rr
FROM idcg i LEFT JOIN dcg d2 ON d2.claim_id = i.claim_id
"""
    _bbq_qids = ", ".join(str(i) for i in BBQ_QUERY_IDS)
    d["bbq_ann_topk"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ({_bbq_qids})),
ham AS (
  SELECT q.query_id, q.qv, e.vec_id, e.v,
         list_sum(list_transform(range(1, len(e.v) + 1),
           i -> CASE WHEN (e.v[i] > 0) <> (q.qv[i] > 0) THEN 1 ELSE 0 END))::BIGINT AS hamming
  FROM q JOIN e ON e.vec_id <> q.query_id
),
cand AS (
  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY query_id
    ORDER BY hamming, vec_id) AS rk FROM ham) WHERE rk <= {BBQ_FETCH_K}
),
scored AS (
  SELECT query_id, vec_id, hamming,
         round(list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos
  FROM cand
)
SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank,
       vec_id::BIGINT AS vec_id, hamming, cos
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cos DESC, vec_id) AS rank FROM scored)
WHERE rank <= {RRF_K}
"""
    _adj_names = sorted(ADJ_FILTERS)
    _adj_flags = ", ".join(
        f"CASE WHEN list_contains(ts, '{ADJ_FILTERS[nm]}') THEN 1 ELSE 0 END AS f_{nm}"
        for nm in _adj_names
    )
    _adj_keys = [(nm, f"f_{nm}") for nm in _adj_names] + [
        (f"{a}&{b}", f"f_{a} * f_{b}")
        for i, a in enumerate(_adj_names)
        for b in _adj_names[i + 1 :]
    ]
    _adj_sums = ", ".join(f"sum({expr})::BIGINT AS k_{j}" for j, (_, expr) in enumerate(_adj_keys))
    _adj_rows = " UNION ALL ".join(
        f"SELECT '{nm}' AS key, k_{j} AS doc_count FROM sums" for j, (nm, _) in enumerate(_adj_keys)
    )
    d["adjacency_matrix"] = f"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS ts
  FROM documents
),
flags AS (SELECT {_adj_flags} FROM toks),
sums AS (SELECT {_adj_sums} FROM flags)
SELECT key, doc_count FROM ({_adj_rows}) WHERE doc_count > 0
"""
    # geo_distance rings: ring labels generated from the same Python floats
    # as the operator so the strings match byte-for-byte
    _edges = GEO_RING_EDGES
    _ring_rows = [(f"*-{_edges[0]}", 0.0, _edges[0])] + [
        (f"{lo}-{hi}", lo, hi) for lo, hi in zip(_edges, _edges[1:])
    ] + [(f"{_edges[-1]}-*", _edges[-1], None)]
    _ring_case = f"CASE WHEN d < {_edges[0]!r} THEN '*-{_edges[0]}'"
    for lo, hi in zip(_edges, _edges[1:]):
        _ring_case += f" WHEN d < {hi!r} THEN '{lo}-{hi}'"
    _ring_case += f" ELSE '{_edges[-1]}-*' END"
    _ring_bounds = " UNION ALL ".join(
        f"SELECT '{k}' AS ring, {lo!r} AS from_km, "
        + (f"{hi!r}" if hi is not None else "CAST(NULL AS DOUBLE)")
        + " AS to_km"
        for k, lo, hi in _ring_rows
    )
    d["geo_distance_rings"] = f"""
WITH coords AS ({_COORDS_SQL}),
dist AS (SELECT n_chars, round({_DIST_SQL}, 6) AS d FROM coords),
ringed AS (SELECT {_ring_case} AS ring, n_chars FROM dist),
agg AS (SELECT ring, count(*)::BIGINT AS n_docs,
               round(avg(n_chars::DOUBLE), 6) AS avg_chars
        FROM ringed GROUP BY 1),
bounds AS ({_ring_bounds})
SELECT a.ring, b.from_km, b.to_km, a.n_docs, a.avg_chars
FROM agg a JOIN bounds b ON b.ring = a.ring
"""
    d["weighted_avg_agg"] = """
SELECT l_returnflag, count(*)::BIGINT AS n_rows,
       round(sum(l_discount::DOUBLE * l_quantity::DOUBLE)
             / sum(l_quantity::DOUBLE), 6) AS weighted_avg
FROM lineitem
WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
GROUP BY 1
"""
    _sayt_vals = ", ".join(f"({i}, '{f}', '{p}')" for i, f, p in SAYT_PREFIXES)
    d["search_as_you_type"] = f"""
WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
                '[^a-z0-9]+'), t -> t <> '') AS tl FROM documents),
big AS (
  SELECT tl[i] AS w1, tl[i+1] AS w2
  FROM toks, unnest(generate_series(1, len(tl) - 1)) AS t(i)
  WHERE len(tl) >= 2
),
bigc AS (SELECT w1, w2, count(*)::BIGINT AS n FROM big GROUP BY 1, 2),
pref(sugg_id, first, prefix) AS (VALUES {_sayt_vals}),
cand AS (
  SELECT p.sugg_id, b.w1, b.w2, b.n
  FROM bigc b JOIN pref p ON b.w1 = p.first AND b.w2 LIKE p.prefix || '%'
)
SELECT sugg_id::BIGINT AS sugg_id, rank::BIGINT AS rank,
       w1 || ' ' || w2 AS completion, n AS n_occurrences
FROM (SELECT *, row_number() OVER (PARTITION BY sugg_id
        ORDER BY n DESC, w2) AS rank FROM cand)
WHERE rank <= {SAYT_K}
"""
    # Data-dependent twins (drqa hashed vocab probe, IVF centroids) learn
    # from the corpus at the CORRECTNESS-GATE scale — sf0.01, the driver's
    # contract — unless SPARK_GRAFT_ORACLE_SF_DIR points elsewhere.  The
    # env knob exists for the builder's tri-scale sweep (check_oracle.py
    # sets it to its sf_dir), so the learned constants are regenerated
    # per-sf and the sweep reads 157/157 at sf0.001/sf0.01/sf0.1 with no
    # documented exception (round-5 task #4).  The driver never sets it,
    # so its gate sees exactly the sf0.01 constants as before.
    _osf = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    _require_ascii_corpus("_TOKS_SQL", _osf)
    # drqa_tfidf_topk_hashed: DuckDB has no murmur3, but the hashed mode
    # differs from the unhashed pipeline ONLY through hash-id collisions
    # (colliding terms merge tf, sklearn semantics). When the corpus
    # vocabulary is verified collision-free under murmur3_32 % 2^24 — checked
    # HERE at generation time against the gate corpus — the hashed
    # retrieval is feature-identical to the unhashed one, so the fully-checked
    # unhashed twin IS its oracle. The hash function itself stays pinned by
    # tests/test_mmh3.py (hand-computed sklearn parity values). If the corpus
    # is unreadable or ever collides, the entry falls back to rows-only.
    try:
        import duckdb as _dd
        import numpy as _np

        from defactonlp_spark.functions.mmh3 import murmur3_32 as _mm

        _vocab = [
            r[0]
            for r in _dd.sql(
                "SELECT DISTINCT unnest(list_filter(regexp_split_to_array("
                "lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term "
                f"FROM '{_osf}/documents.parquet'"
            ).fetchall()
        ]
        _hids = _mm(_np.array(_vocab, dtype=object)) % (2**24)
        if len(set(_hids.tolist())) == len(_vocab):
            d["drqa_tfidf_topk_hashed"] = d["drqa_tfidf_topk"]
    except Exception:
        pass
    # ivf_ann_topk: the coarse quantizer is a LEARNED but DETERMINISTIC model
    # (ivf_train_np: strided init + fixed Lloyd iterations over the id-sorted
    # sample), so the centroids inline into SQL exactly like the LSH
    # hyperplanes; cell assignment (argmax dot) and probe selection (top-4
    # dots, stable ties) are recomputed IN SQL. Emitted only when every
    # cell/probe decision has a float margin > 1e-9 at generation time —
    # libm/BLAS drift is ~1e-14, so no boundary can flip cross-engine; on a
    # corpus where margins collapse the entry falls back to rows-only.
    # SCALE PIN, lifted round 5: the centroids are learned from the
    # embeddings at the gate scale (_osf, default sf0.01; the tri-scale
    # sweep overrides via SPARK_GRAFT_ORACLE_SF_DIR so each sweep scale
    # gets ITS corpus's quantizer — the same model ivf_ann_topk trains
    # engine-side at that sf, since ivf_train_np is deterministic on the
    # id-sorted matrix regardless of which engine loaded it). Training reads
    # the engine's sample (the first IVF_SAMPLE_ROWS ids, ivf_train's
    # ORDER BY vec_id LIMIT); the margin checks cover every row.
    try:
        import duckdb as _dd
        import numpy as _np

        from defactonlp_spark.operators.similarity import (
            IVF_SAMPLE_ROWS as _ivn,
            ivf_train_np as _ivt,
        )

        _emb = _dd.sql(
            f"SELECT embedding FROM '{_osf}/embeddings.parquet' "
            "ORDER BY vec_id"
        ).fetchall()
        _mat = _np.array([r[0] for r in _emb], dtype=_np.float64)
        _cents = _ivt(_mat[:_ivn], 16, 5)
        _nrm = _np.linalg.norm(_mat, axis=1, keepdims=True)
        _nrm[_nrm == 0.0] = 1.0
        _dots = (_mat / _nrm) @ _cents.T
        _srt = -_np.sort(-_dots, axis=1)
        _cell_margin = float(_np.min(_srt[:, 0] - _srt[:, 1]))
        _qrows = _srt[[0, 1, 2, 3, 4], :]
        _probe_margin = float(_np.min(_qrows[:, 3] - _qrows[:, 4]))
        if _cell_margin > 1e-9 and _probe_margin > 1e-9:
            _cl = ", ".join(
                f"({i}, [" + ", ".join(repr(x) for x in c) + "]::DOUBLE[])"
                for i, c in enumerate(_cents)
            )
            d["ivf_ann_topk"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cl(ci, c) AS (VALUES {_cl}),
n AS (SELECT vec_id, v,
             CASE WHEN sqrt(list_dot_product(v, v)) = 0.0 THEN 1.0
                  ELSE sqrt(list_dot_product(v, v)) END AS nrm
      FROM e),
h AS (SELECT vec_id, v, list_transform(v, x -> x / nrm) AS vh FROM n),
dt AS (SELECT h.vec_id, h.v, cl.ci, list_dot_product(h.vh, cl.c) AS d
       FROM h CROSS JOIN cl),
cells AS (
  SELECT vec_id, v, ci AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, ci) AS rn
    FROM dt) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, v AS qv, ci AS probe FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, ci) AS rn
    FROM dt WHERE vec_id IN (0, 1, 2, 3, 4)) WHERE rn <= 4
),
cand AS (
  SELECT p.query_id, p.qv, c.vec_id, c.v
  FROM probes p JOIN cells c ON c.cell = p.probe AND c.vec_id <> p.query_id
),
scored AS (
  SELECT query_id, vec_id,
         round(list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos
  FROM cand
)
SELECT query_id::BIGINT AS query_id, rank::BIGINT AS rank,
       vec_id::BIGINT AS vec_id, cos
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cos DESC, vec_id) AS rank FROM scored)
WHERE rank <= 10
"""
    except Exception:
        pass
    d["link_pagerank"] = _sql_link_pagerank()
    d["link_hits"] = _sql_link_hits()
    d["textrank_keywords"] = _sql_textrank_keywords(_osf)
    d["frequent_item_sets"] = f"""
WITH toks AS ({_TOKS_SQL}),
items AS (SELECT DISTINCT doc_id, term AS item FROM toks),
sup1 AS (SELECT item, count(*)::BIGINT AS s1 FROM items GROUP BY 1),
l1 AS (SELECT item, s1 FROM sup1 WHERE s1 >= {FIS_MIN_SUPPORT}),
capped AS (
  SELECT doc_id, item FROM (
    SELECT i.doc_id, i.item,
           row_number() OVER (PARTITION BY i.doc_id ORDER BY l.s1 DESC, i.item) AS rk
    FROM items i JOIN l1 l ON l.item = i.item)
  WHERE rk <= {FIS_CAP}
),
pairs AS (
  SELECT a.item AS ia, b.item AS ib, count(*)::BIGINT AS support
  FROM capped a JOIN capped b ON a.doc_id = b.doc_id AND a.item < b.item
  GROUP BY 1, 2 HAVING count(*) >= {FIS_MIN_SUPPORT}
),
pair_docs AS (
  SELECT a.doc_id, a.item AS ia, b.item AS ib
  FROM capped a JOIN capped b ON a.doc_id = b.doc_id AND a.item < b.item
  WHERE (a.item, b.item) IN (SELECT (ia, ib) FROM pairs)
),
triples AS (
  SELECT pd.ia, pd.ib, c.item AS ic, count(*)::BIGINT AS support
  FROM pair_docs pd JOIN capped c ON c.doc_id = pd.doc_id AND c.item > pd.ib
  GROUP BY 1, 2, 3 HAVING count(*) >= {FIS_MIN_SUPPORT}
),
allsets AS (
  SELECT 1 AS size, item AS items, s1 AS support FROM l1
  UNION ALL
  SELECT 2, ia || ' ' || ib, support FROM pairs
  UNION ALL
  SELECT 3, ia || ' ' || ib || ' ' || ic, support FROM triples
)
SELECT size, items, support FROM allsets
ORDER BY support DESC, items LIMIT {FIS_TOP}
"""
    from defactonlp_spark.operators.ltr import LTR_WEIGHTS as _LW

    _lw_expr = " + ".join(
        f"({_LW[f]!r} * {f})" for f in sorted(_LW)
    )
    d["ltr_rerank"] = f"""
WITH feats AS ({d["ltr_features"]})
SELECT claim_id, row_number() OVER (PARTITION BY claim_id
         ORDER BY round({_lw_expr}, 6) DESC, doc_id)::BIGINT AS rank,
       doc_id, round({_lw_expr}, 6) AS model_score, rank AS bm25_rank
FROM feats
QUALIFY row_number() OVER (PARTITION BY claim_id
          ORDER BY round({_lw_expr}, 6) DESC, doc_id) <= {TOPK}
"""
    # --- round-5 additions ----------------------------------------------
    d["top_metrics_agg"] = """
SELECT event_type, rank::BIGINT AS rank, sort_value, round(value, 6) AS value, user_id
FROM (SELECT event_type, ts AS sort_value, value, user_id,
             row_number() OVER (PARTITION BY event_type
               ORDER BY ts DESC, event_id) AS rank
      FROM events)
WHERE rank <= 2
"""
    d["serial_diff_weekly"] = """
WITH b AS (
  SELECT (epoch(ts)::BIGINT // 86400) * 86400 AS bucket_start,
         sum(value) AS sv
  FROM events GROUP BY 1
)
SELECT bucket_start, round(sv, 6) AS sum_value,
       round(sv - lag(sv, 7) OVER (ORDER BY bucket_start), 6) AS serial_diff
FROM b
"""
    d["rare_terms"] = f"""
WITH tl AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
              '[^a-z0-9]+'), t -> t <> '') AS t FROM documents),
big AS (SELECT doc_id, t[i] || ' ' || t[i + 1] AS term
        FROM tl, unnest(range(1, len(t))) AS u(i)),
pres AS (SELECT DISTINCT term, doc_id FROM big),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM pres GROUP BY 1)
SELECT term, df FROM dfreq WHERE df <= {RARE_MAX_DF} ORDER BY term LIMIT 100
"""
    _dr_vals = ", ".join(
        "('%s', %s, %s)" % (k, "NULL" if lo is None else lo, "NULL" if hi is None else hi)
        for k, lo, hi in DATE_RANGES
    )
    d["date_range_agg"] = f"""
WITH r(range_key, from_sec, to_sec) AS (VALUES {_dr_vals}),
e AS (SELECT epoch(ts)::BIGINT AS t, value FROM events),
h AS (
  SELECT r.range_key, count(e.t)::BIGINT AS doc_count, sum(e.value) AS sv
  FROM r LEFT JOIN e ON (r.from_sec IS NULL OR e.t >= r.from_sec)
                    AND (r.to_sec IS NULL OR e.t < r.to_sec)
  GROUP BY 1
)
SELECT r.range_key, r.from_sec::BIGINT AS from_sec, r.to_sec::BIGINT AS to_sec,
       h.doc_count, round(h.sv, 6) AS sum_value
FROM r JOIN h ON h.range_key = r.range_key
"""
    d["filters_agg"] = """
WITH a AS (
  SELECT sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n1,
         avg(CASE WHEN event_type = 'click' THEN value END) AS a1,
         sum(CASE WHEN value > 100.0 THEN 1 ELSE 0 END)::BIGINT AS n2,
         avg(CASE WHEN value > 100.0 THEN value END) AS a2,
         sum(CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END)::BIGINT AS n3,
         avg(CASE WHEN event_type IN ('purchase', 'signup') THEN value END) AS a3
  FROM events)
SELECT 'clicks' AS bucket, n1 AS doc_count, round(a1, 6) AS avg_value FROM a
UNION ALL SELECT 'high_value', n2, round(a2, 6) FROM a
UNION ALL SELECT 'purchase_or_signup', n3, round(a3, 6) FROM a
"""
    d["bm25_plus_topk"] = f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * (p.tf * {K1 + 1.0}
                 / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) + 1.0) ) AS score
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, rank::BIGINT AS rank,
       doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
        ORDER BY round(score, 6) DESC, doc_id) AS rank FROM scored)
WHERE rank <= {TOPK}
"""
    _mix_vals = ", ".join(f"('{k}', {v})" for k, v in DOMAIN_TARGET_MIX.items())
    d["domain_mix_kl"] = f"""
WITH tgt(source, target_share) AS (VALUES {_mix_vals}),
agg AS (SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars::DOUBLE) AS mass
        FROM documents GROUP BY 1),
tot AS (SELECT sum(mass) AS t FROM agg),
sh AS (SELECT a.source, a.n_docs, a.mass, round(a.mass / t.t, 9) AS actual_share
       FROM agg a CROSS JOIN tot t)
SELECT s.source, s.n_docs, round(s.mass, 6) AS mass, s.actual_share,
       g.target_share,
       round(s.actual_share * ln(s.actual_share / g.target_share), 9) AS kl_contrib
FROM sh s LEFT JOIN tgt g ON g.source = s.source
ORDER BY s.source
"""
    d["significant_text"] = f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, claim) AS {_CLAIMS_SQL},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(claim),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
fg AS (
  SELECT claim_id, doc_id
  FROM (SELECT *, row_number() OVER (PARTITION BY claim_id
          ORDER BY round(score, 6) DESC, doc_id) AS rn FROM scored)
  WHERE rn <= {SIGTERMS_FG_K}
),
fgh AS (
  SELECT f.claim_id, f.doc_id, md5(dd.text) AS h
  FROM fg f JOIN documents dd ON dd.doc_id = f.doc_id
),
fgd AS (
  SELECT claim_id, doc_id
  FROM (SELECT *, row_number() OVER (PARTITION BY claim_id, h
          ORDER BY doc_id) AS rn FROM fgh)
  WHERE rn = 1
),
fgsize AS (SELECT claim_id, count(*)::DOUBLE AS fg_size FROM fgd GROUP BY 1),
fgterms AS (
  SELECT f.claim_id, p.term, count(*)::BIGINT AS fg_count
  FROM fgd f JOIN postings p ON p.doc_id = f.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
kept AS (
  SELECT ft.claim_id, ft.term, ft.fg_count, d.df::BIGINT AS bg_count,
         (ft.fg_count / z.fg_size) AS fgp, (d.df / s.n) AS bgp
  FROM fgterms ft
  JOIN dfreq d ON d.term = ft.term
  JOIN fgsize z ON z.claim_id = ft.claim_id
  CROSS JOIN stats s
  LEFT JOIN qterms q ON q.claim_id = ft.claim_id AND q.term = ft.term
  WHERE q.term IS NULL AND (ft.fg_count / z.fg_size) > (d.df / s.n)
)
SELECT claim_id::BIGINT AS claim_id, rank::BIGINT AS rank, term, fg_count, bg_count,
       round(jlh, 6) AS jlh
FROM (SELECT *, (fgp - bgp) * (fgp / bgp) AS jlh,
             row_number() OVER (PARTITION BY claim_id
               ORDER BY round((fgp - bgp) * (fgp / bgp), 6) DESC, term) AS rank
      FROM kept)
WHERE rank <= 10
"""
    # --- round-5 wave 2 ---------------------------------------------------
    # independent SQL re-implementation of url_canonical_col (same pinned
    # rules, different engine + code path — the oracle cross-checks the
    # normalizer itself, not just its output plumbing)
    def _canon_sql(raw_rel: str) -> str:
        return f"""
nofrag AS (SELECT *, regexp_replace(url, '#.*$', '') AS u0 FROM ({raw_rel})),
lc AS (SELECT *, lower(regexp_extract(u0, '^([^/?#]*://[^/?#]*)', 1))
              || substring(u0, length(regexp_extract(u0, '^([^/?#]*://[^/?#]*)', 1)) + 1) AS u
       FROM nofrag),
parts AS (
  SELECT *, regexp_extract(u, '^([a-z][a-z0-9+.-]*)://', 1) AS scheme,
         regexp_extract(u, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS hostport,
         regexp_replace(regexp_extract(u, '://[^/?#]*(/[^?#]*)', 1), '/+$', '') AS cpath,
         regexp_extract(u, '\\?([^#]*)', 1) AS cquery
  FROM lc),
canon AS (
  SELECT *, scheme || '://'
       || regexp_replace(regexp_extract(hostport, '^([^:]+)', 1), '^www\\.', '')
       || (CASE WHEN regexp_extract(hostport, ':([0-9]+)$', 1) = '' THEN ''
                WHEN scheme = 'https' AND regexp_extract(hostport, ':([0-9]+)$', 1) = '443' THEN ''
                WHEN scheme = 'http' AND regexp_extract(hostport, ':([0-9]+)$', 1) = '80' THEN ''
                ELSE ':' || regexp_extract(hostport, ':([0-9]+)$', 1) END)
       || cpath
       || (CASE WHEN len(list_filter(string_split(cquery, '&'),
                    p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|msclkid|ref)='))) > 0
                THEN '?' || array_to_string(list_sort(list_filter(string_split(cquery, '&'),
                    p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|msclkid|ref)='))), '&')
                ELSE '' END) AS canonical_url
  FROM parts)"""

    _dirty_url_sql = """SELECT doc_id,
       CASE doc_id % 4
         WHEN 0 THEN 'https://h' || ((doc_id // 4) % 97) || '.example.com/a/' || (doc_id // 4)
         WHEN 1 THEN 'HTTPS://H' || ((doc_id // 4) % 97) || '.EXAMPLE.COM:443/a/' || (doc_id // 4)
         WHEN 2 THEN 'https://www.h' || ((doc_id // 4) % 97) || '.example.com/a/' || (doc_id // 4) || '/#s2'
         ELSE 'https://h' || ((doc_id // 4) % 97) || '.example.com/a/' || (doc_id // 4) || '?utm_source=feed&b=2&a=1'
       END AS url
 FROM documents"""
    d["url_canonical_dups"] = f"""
WITH {_canon_sql(_dirty_url_sql)}
SELECT canonical_url, count(*)::BIGINT AS n_variants, min(doc_id)::BIGINT AS keep_id
FROM canon GROUP BY 1 HAVING count(*) >= 2
"""
    d["url_blocklist_stats"] = f"""
WITH {_canon_sql("SELECT doc_id, url FROM " + _URL_TEXT_SQL.strip())},
ch AS (
  SELECT doc_id, canonical_url,
         regexp_extract(regexp_extract(canonical_url,
           '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1), '^([^:]+)', 1) AS chost
  FROM canon),
m AS (
  SELECT doc_id, 'r0' AS rule_id FROM ch
    WHERE chost = 'src3.example.com' OR chost LIKE '%.src3.example.com'
  UNION ALL
  SELECT doc_id, 'r1' FROM ch
    WHERE chost = 'src5.org' OR chost LIKE '%.src5.org'
  UNION ALL
  SELECT doc_id, 'r2' FROM ch
    WHERE canonical_url LIKE 'http://src7.example.com/p/1%'),
pick AS (SELECT doc_id, min(rule_id) AS rule_id FROM m GROUP BY 1)
SELECT coalesce(p.rule_id, '(kept)') AS rule_id, count(*)::BIGINT AS n
FROM ch LEFT JOIN pick p USING (doc_id) GROUP BY 1
"""
    _strata_vals = ", ".join(f"('{k}', {v})" for k, v in STRATA_PERMILLE.items())
    d["stratified_sample_stats"] = f"""
WITH rates(source, p) AS (VALUES {_strata_vals}),
s AS (SELECT d.source, d.n_chars, r.p
      FROM documents d JOIN rates r USING (source)
      WHERE (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 1000) < r.p)
SELECT source, count(*)::BIGINT AS n_sampled,
       round(count(*) * 1000.0 / p, 6) AS est_count,
       round(avg(n_chars), 6) AS avg_chars
FROM s GROUP BY source, p
"""
    # span end <= END iff the phrase survives truncation to the first END
    # tokens — the LIKE containment runs on the truncated normalized string
    d["span_first_topk"] = f"""
WITH toks AS ({_TOKS_SQL}),
postings AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
claims(claim_id, phrase) AS {_PHRASE_VALUES},
qterms AS (
  SELECT DISTINCT claim_id, unnest(list_filter(regexp_split_to_array(lower(phrase),
    '[^a-z0-9]+'), t -> t <> '')) AS term FROM claims
),
docstr AS (
  SELECT doc_id, ' ' || array_to_string(list_slice(list_filter(
    regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> ''),
    1, {SPAN_FIRST_END}), ' ') || ' ' AS s FROM documents
),
pnorm AS (
  SELECT claim_id, ' ' || array_to_string(list_filter(regexp_split_to_array(lower(phrase),
    '[^a-z0-9]+'), t -> t <> ''), ' ') || ' ' AS p FROM claims
),
matches AS (
  SELECT pn.claim_id, d.doc_id FROM pnorm pn JOIN docstr d ON d.s LIKE '%' || pn.p || '%'
),
scored AS (
  SELECT q.claim_id, p.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)) ) AS score
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl l ON l.doc_id = p.doc_id
  JOIN matches m ON m.claim_id = q.claim_id AND m.doc_id = p.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT claim_id::BIGINT AS claim_id, doc_id::BIGINT AS doc_id, round(score, 4) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY claim_id ORDER BY score DESC, doc_id) AS rn
      FROM scored)
WHERE rn <= {TOPK}
"""
    return d
