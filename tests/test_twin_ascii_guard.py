"""The DuckDB twins tokenize with ``split(lower(text), '[^a-z0-9]+')``,
which equals the engine tokenizer (NFD, casefold, Unicode letter/digit
runs) only on ASCII text. ``_TOKS_SQL`` (every index-path twin) and the
TextRank twin refuse to be emitted for a corpus holding a non-ASCII letter
or digit, with an error that names the cause, instead of emitting a twin
that disagrees with the engine."""

import re
import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from defactonlp_spark.functions.tokenize import tokenize_one  # noqa: E402


def _corpus(tmp_path, texts) -> str:
    pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(
        tmp_path / "documents.parquet"
    )
    return str(tmp_path)


def _sql_split(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def test_non_ascii_letters_refuse_both_twins(tmp_path, monkeypatch):
    texts = ["plain ascii words", "Café au lait, naïve"]
    sf_dir = _corpus(tmp_path, texts)
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)
    # the refusal guards a real disagreement
    assert tokenize_one(texts[1]) != _sql_split(texts[1])
    with pytest.raises(ValueError, match=r"_TOKS_SQL: .*non-ASCII letters.*\(éï\)"):
        entrymod.oracle_sql()
    with pytest.raises(ValueError, match="textrank_keywords: .*no twin is emitted"):
        entrymod._sql_textrank_keywords(sf_dir)


def test_non_ascii_separators_keep_the_twins(tmp_path):
    texts = ["dash — and ‘quotes’ … split alike", "no letters: «»"]
    sf_dir = _corpus(tmp_path, texts)
    for t in texts:
        assert tokenize_one(t) == _sql_split(t)
    assert entrymod._non_ascii_word_chars(sf_dir) == []
    assert "WITH tl AS" in entrymod._sql_textrank_keywords(sf_dir)
