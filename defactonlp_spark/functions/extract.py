"""B1 — deterministic HTML -> text extraction (pandas UDF, BinaryType -> StringType).

Pinned spec (SURVEY.md §5.3 — normative here; the reference extractor is not
mounted, so these rules ARE the contract and are frozen by golden byte
fixtures under ``tests/golden/extract/``):

1. UTF-8 decode, errors=strict (a page that fails to decode yields NULL),
2. drop ``<head>...</head>``, ``<script>...</script>``, ``<style>...</style>``
   blocks entirely (case-insensitive, non-greedy),
3. strip all remaining tags ``<...>``,
4. unescape HTML entities (``html.unescape``),
5. collapse all whitespace runs to a single space, strip ends.

The per-url output must be byte-identical across runs and across cluster
sizes — pure function of the html bytes, no locale or env dependence.

Reference analog (public, file-level): fever-baselines / DrQA
``scripts/retriever/build_db.py`` ingests pre-extracted wiki text; DeFactoNLP
never parses HTML itself — extraction is the new web-scale front door
mandated by BASELINE.json:15.
"""

from __future__ import annotations

import html as _html
import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BLOCK_RE = re.compile(
    r"<head\b.*?</head\s*>|<script\b.*?</script\s*>|<style\b.*?</style\s*>",
    re.IGNORECASE | re.DOTALL,
)
_TAG_RE = re.compile(r"<[^>]*>")
_WS_RE = re.compile(r"\s+")


def extract_text_one(html_bytes: bytes | None) -> str | None:
    """Scalar reference implementation (used by tests and the UDF)."""
    if html_bytes is None:
        return None
    try:
        s = bytes(html_bytes).decode("utf-8", errors="strict")
    except UnicodeDecodeError:
        return None
    s = _BLOCK_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    s = _html.unescape(s)
    return _WS_RE.sub(" ", s).strip()


def _extract_series(s: pd.Series) -> pd.Series:
    return s.map(extract_text_one)


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:  # pragma: no cover (thin wrapper)
    return _extract_series(html)


def with_extracted_text(df, html_col: str = "html", out_col: str = "text"):
    """Add/replace ``out_col`` with the extracted text of ``html_col``."""
    return df.withColumn(out_col, extract_text_udf(F.col(html_col)))


# --- link extraction (the hyperlink front door for operators/linkgraph) ---
#
# Pinned spec, frozen by tests/test_extract.py::test_extract_links_*:
# 1. decode as in extract_text_one (undecodable page -> no links),
# 2. take every <a ...> tag's href attribute value (case-insensitive tag
#    and attribute, single/double/no quotes), BEFORE any block stripping —
#    nav/header links are links; the tag's other attributes are stepped
#    over whole, so "href=" inside another attribute's value (title="see
#    href=x") or a longer name (data-href) is not an href,
# 3. entity-unescape the value (&amp; in query strings),
# 4. drop fragment-only ('#...'), javascript:, mailto:, data: targets,
# 5. resolve relative targets against the page url (urljoin semantics),
#    drop the fragment, keep everything else verbatim — canonicalization
#    is a SEPARATE, composable step (functions/urls.py::url_canonical_col),
# 6. de-duplicate per page, preserving first-occurrence order.

# One attribute: separator (whitespace or "/", or nothing right after a
# quoted value), name, optional value. The attribute loops are possessive,
# so a tag without an href fails in one left-to-right pass.
_ATTR_SEP = r"""(?:[\s/]+|(?<=["']))"""
_ATTR = r"""[^\s"'>/=]+(?:\s*=\s*(?:"[^"]*"|'[^']*'|[^\s"'>]+))?"""
_A_HREF = (
    r"<a(?:" + _ATTR_SEP + r"(?!href\s*=)" + _ATTR + r")*+" + _ATTR_SEP
    + r"""href\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))"""
)
_HREF_RE = re.compile(_A_HREF, re.IGNORECASE | re.DOTALL)
_SKIP_SCHEME_RE = re.compile(r"^(javascript|mailto|data):", re.IGNORECASE)


def extract_links_one(html_bytes: bytes | None, base_url: str | None) -> list[str]:
    """Scalar reference implementation (used by tests and the UDF)."""
    from urllib.parse import urldefrag, urljoin

    if html_bytes is None:
        return []
    try:
        s = bytes(html_bytes).decode("utf-8", errors="strict")
    except UnicodeDecodeError:
        return []
    out: list[str] = []
    seen: set[str] = set()
    for m in _HREF_RE.finditer(s):
        raw = m.group(2) if m.group(2) is not None else (
            m.group(3) if m.group(3) is not None else m.group(4)
        )
        href = _html.unescape(raw).strip()
        if not href or href.startswith("#") or _SKIP_SCHEME_RE.match(href):
            continue
        target = urljoin(base_url, href) if base_url else href
        target = urldefrag(target)[0]
        if target and target not in seen:
            seen.add(target)
            out.append(target)
    return out


@F.pandas_udf(T.ArrayType(T.StringType()))
def extract_links_udf(html: pd.Series, url: pd.Series) -> pd.Series:  # pragma: no cover
    return pd.Series(
        [extract_links_one(h, u) for h, u in zip(html, url)]
    )


_ANCHOR_RE = re.compile(
    _A_HREF + r"(?:" + _ATTR_SEP + _ATTR + r""")*+[^>]*>(.*?)</a\s*>""",
    re.IGNORECASE | re.DOTALL,
)


def extract_anchors_one(
    html_bytes: bytes | None, base_url: str | None
) -> list[tuple[str, str]]:
    """Anchor-TEXT extraction (the classic web relevance signal: terms
    other pages use to link to a target; Brin & Page 1998 §2.2 index
    anchor words with the page the link points TO). Returns
    (target_url, anchor_text) pairs in document order — one per <a> with
    both a usable href (same skip rules as :func:`extract_links_one`) and
    NON-EMPTY visible text (inner tags stripped, entities unescaped,
    whitespace collapsed; image-only/empty anchors are dropped). Repeats
    are kept: multiplicity IS the signal, the aggregation weights it."""
    from urllib.parse import urldefrag, urljoin

    if html_bytes is None:
        return []
    try:
        s = bytes(html_bytes).decode("utf-8", errors="strict")
    except UnicodeDecodeError:
        return []
    out: list[tuple[str, str]] = []
    for m in _ANCHOR_RE.finditer(s):
        raw = m.group(2) if m.group(2) is not None else (
            m.group(3) if m.group(3) is not None else m.group(4)
        )
        href = _html.unescape(raw).strip()
        if not href or href.startswith("#") or _SKIP_SCHEME_RE.match(href):
            continue
        text = _WS_RE.sub(" ", _html.unescape(_TAG_RE.sub(" ", m.group(5)))).strip()
        if not text:
            continue
        target = urljoin(base_url, href) if base_url else href
        target = urldefrag(target)[0]
        if target:
            out.append((target, text))
    return out


@F.pandas_udf(T.ArrayType(T.StructType([
    T.StructField("dst", T.StringType()),
    T.StructField("anchor", T.StringType()),
])))
def extract_anchors_udf(html: pd.Series, url: pd.Series) -> pd.Series:  # pragma: no cover
    return pd.Series(
        [extract_anchors_one(h, u) for h, u in zip(html, url)]
    )


def anchor_edges(pages, html_col: str = "html", url_col: str = "url"):
    """(url, html) pages -> (src, dst, anchor) hyperlink edges WITH their
    visible anchor text: one Arrow kernel pass + an explode, no shuffle.
    Aggregate per dst (e.g. concat/tokenize) to build the anchor FIELD of
    the target document — joined to the corpus's url->doc_id map it feeds
    the BM25F field machinery (operators/bm25f.py) as an extra field, the
    way web engines have indexed anchor words with the target since
    Google's original design."""
    e = pages.select(
        F.col(url_col).alias("src"),
        F.explode(extract_anchors_udf(F.col(html_col), F.col(url_col))).alias("a"),
    )
    return e.select("src", F.col("a.dst").alias("dst"), F.col("a.anchor").alias("anchor"))


def link_edges(pages, html_col: str = "html", url_col: str = "url"):
    """(url, html) pages -> exploded (src, dst) hyperlink edge relation:
    one Arrow kernel pass + an explode, no shuffle. Feed it (joined to the
    corpus's url->doc_id map) straight into ``operators/linkgraph.py``'s
    pagerank/hits — the production replacement for the fixture-only
    ``synthetic_edges``. Dedup per page preserves the pinned first-seen
    order; cross-page duplicates are the caller's aggregation to weight."""
    return pages.select(
        F.col(url_col).alias("src"),
        F.explode(extract_links_udf(F.col(html_col), F.col(url_col))).alias("dst"),
    )
