"""``operators/wand.py::term_in`` — the one-expression term IN-list used by
every term pushdown — selects exactly the rows ``Column.isin`` selects and
still reaches the parquet scan as ``PushedFilters: [In(term``."""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from defactonlp_spark.operators.wand import term_in

ODD = ["it's", "back\\slash", "line\nbreak", "café", "Ελλάδα", "naïve", "end\\", "'", "\\'", "日本"]
PLAIN = [f"t{i:02d}" for i in range(30)]


@pytest.fixture(scope="module")
def terms_df(spark):
    rows = [(i, t) for i, t in enumerate(ODD + PLAIN + ["cafe", "its", "backslash", "x'y"])]
    return spark.createDataFrame(rows, "id long, term string")


def _ids(df) -> list[int]:
    return sorted(r["id"] for r in df.select("id").collect())


@pytest.mark.parametrize(
    "values",
    [ODD[:4], ODD, ODD + PLAIN[:5] + ["absent"], PLAIN[:3], []],
    ids=["odd4", "odd10", "over10", "plain3", "empty"],
)
def test_term_in_selects_isin_rows(terms_df, values):
    want = _ids(terms_df.filter(F.col("term").isin(values)))
    assert _ids(terms_df.filter(term_in(values))) == want
    assert len(want) == len(set(values) & set(ODD + PLAIN))


def test_term_in_pushes_down(spark, terms_df, tmp_path):
    path = str(tmp_path / "terms")
    terms_df.write.parquet(path)
    for values in (ODD[:3], ODD + PLAIN):  # In, and InSet past 10 values
        buf = io.StringIO()
        with redirect_stdout(buf):
            spark.read.parquet(path).filter(term_in(values)).explain("formatted")
        plan = buf.getvalue()
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert pushed and "In(term" in pushed[0], plan
        assert ("INSET" in plan) == (len(values) > 10), plan
