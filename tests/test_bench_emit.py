"""The driver records only the last 2000 chars of bench stdout (every
BENCH_r0*.json "tail" field is exactly 2000 chars); round 3 lost its bench
record because the final JSON line outgrew that window.  _fit_line is the
hard guarantee that can never happen again, whatever the query count."""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402


def _compact(n_queries: int) -> dict:
    return {
        "metric": "harness queries wall time (sf0.1) + index-build docs/sec + scaling",
        "value": 330.49,
        "unit": "sec",
        "sf": "/root/testdata/sf0.1",
        "queries": {f"some_operator_name_{i:03d}": round(0.1 + i * 0.37, 2)
                    for i in range(n_queries)},
        "full_results": bench.FULL_RESULTS_PATH,
        "ib_docs": 320000,
        "ib_scaling_efficiency": 0.882,
        "ib_scaling_efficiency_median": 0.775,
        "ib_pair_efficiencies": [0.749, 0.882, 0.775],
        "serve_claims": 200,
        "serve_wand_claims_per_sec": 11.69,
        "serve_warm_claims_per_sec": 33.87,
        "serve_scaling_efficiency": 0.69,
        "serve_pair_efficiencies": [1.007, 0.69, 0.792],
        "fixtures_warmup_sec": 4.63,
    }


def test_small_dict_passes_through_unchanged():
    c = _compact(10)
    assert bench._fit_line(c) == c


def test_oversized_dict_fits_and_keeps_headlines():
    for n in (114, 200, 500):
        c = _compact(n)
        out = bench._fit_line(c)
        line = json.dumps(out)
        assert len(line) <= bench._MAX_LINE
        # headline fields must survive truncation
        for k in ("value", "ib_scaling_efficiency", "serve_warm_claims_per_sec",
                  "serve_scaling_efficiency", "fixtures_warmup_sec"):
            assert out[k] == c[k]
        # the slowest queries are the ones kept, and the walls reconcile
        assert out["queries_total"] == n
        assert out["queries_shown"] == len(out["queries"])
        kept_min = min(out["queries"].values())
        dropped = {k: v for k, v in c["queries"].items() if k not in out["queries"]}
        assert all(v <= kept_min for v in dropped.values())
        assert abs(out["queries_omitted_sec"] - sum(dropped.values())) < 0.05


def test_failure_sentinels_never_hidden():
    c = _compact(300)
    c["queries"]["broken_query_a"] = -1.0
    c["queries"]["broken_query_b"] = -1.0
    out = bench._fit_line(c)
    assert out["queries"]["broken_query_a"] == -1.0
    assert out["queries"]["broken_query_b"] == -1.0
    assert len(json.dumps(out)) <= bench._MAX_LINE


class _Sink:
    """Stand-in for ``df.write.format("noop").mode(...).save()``."""

    @property
    def write(self):
        return self

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        return None


def _fine(spark, sf_dir):
    return _Sink()


def _broken(spark, sf_dir):
    raise ZeroDivisionError("float division by zero\n  at some deeper frame")


def test_broken_entry_reason_reaches_the_line():
    walls, errors = bench.time_queries(None, {"fine_query": _fine, "broken_query": _broken}, "/nowhere")
    assert walls["broken_query"] == -1.0 and walls["fine_query"] >= 0.0
    assert errors == {"broken_query": "ZeroDivisionError: float division by zero"}
    c = _compact(300)
    c["queries"].update(walls)
    c["query_errors"] = errors
    line = json.dumps(bench._fit_line(c))
    assert len(line) <= bench._MAX_LINE
    assert '"broken_query": -1.0' in line
    assert '"broken_query": "ZeroDivisionError: float division by zero"' in line


def test_many_failure_reasons_still_fit():
    c = _compact(150)
    names = sorted(c["queries"])[:60]
    for n in names:
        c["queries"][n] = -1.0
    c["query_errors"] = {n: "AnalysisException: " + "x" * 150 for n in names}
    out = bench._fit_line(c)
    assert len(json.dumps(out)) <= bench._MAX_LINE
    assert out["query_errors"]
    assert all(len(v) <= 80 for v in out["query_errors"].values())
    assert len(out["query_errors"]) + out["query_errors_omitted"] == 60
