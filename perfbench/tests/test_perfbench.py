"""Tests for the benchmark's own logic: the event-log parser against a small
canned log, the top-k comparison used as the correctness check, and the
agreement between BENCHMARK.json and the metrics the benchmark prints.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``
"""

import json
import math
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

CANNED = os.path.join(HERE, "canned_eventlog.json")


@pytest.fixture(scope="module")
def log():
    return eventlog.read_event_log(CANNED)


def test_reads_stages_and_tasks(log):
    stages, tasks = log
    assert sorted(stages) == [0, 1]
    assert stages[0].scopes == {"Scan parquet", "WholeStageCodegen (1)", "Exchange"}
    assert stages[1].wall_s == 1.0
    assert [t.stage_id for t in tasks] == [0, 0, 1, 1]
    t = tasks[2]
    assert (t.python_ms, t.shuffle_read_bytes, t.fetch_wait_ms, t.spill_bytes) == (600, 500, 5, 64)
    assert tasks[3].records_written == 7


def test_window_holds_tasks_by_launch_time(log):
    _, tasks = log
    assert len(eventlog.in_window(tasks, 1000, 2300)) == 3
    assert len(eventlog.in_window(tasks, 1010, 1020)) == 1  # end is exclusive
    assert eventlog.in_window(tasks, 3000, 4000) == []


def test_stages_by_operator_scope(log):
    stages, tasks = log
    window = eventlog.in_window(tasks, 1000, 2300)
    assert [s.stage_id for s in eventlog.stages_with(stages, window, "FlatMapCoGroupsInPandas")] == [1]
    assert [s.stage_id for s in eventlog.stages_with(stages, window, "Scan parquet")] == [0]
    assert eventlog.stages_with(stages, window, "InMemoryTableScan") == []


def test_totals(log):
    _, tasks = log
    tot = eventlog.totals(tasks[:3])
    assert math.isclose(tot["cpu_s"], 0.6 + 0.6)  # JVM 0.2+0.3+0.1 s, Python 0.6 s
    assert math.isclose(tot["run_s"], 1.59)
    assert math.isclose(tot["gc_s"], 0.015)
    assert tot["input_bytes"] == 4000
    assert tot["shuffle_write_bytes"] == 1200
    assert tot["shuffle_read_bytes"] == 500
    assert math.isclose(tot["fetch_wait_s"], 0.005)


def test_serve_layers_from_canned_log(log):
    stages, tasks = log
    op = {
        "t0": 1.0, "t1": 2.3, "wall": 1.3, "claim_tokenize_s": 0.1, "plan_s": 0.2,
        "candidate_postings": 10, "dense_claims": 2, "cursor_claims": 0,
    }
    row = layers.serve_layers(stages, tasks, op, cores=4)
    assert row["kernel.wall_s"] == 1.0
    assert row["gather.wall_s"] == 0.5
    assert row["gather.shuffle_bytes"] == 500
    assert math.isclose(row["serve.kernel_gather_share"], 1.5 / 1.3)
    assert math.isclose(row["serve.core_util"], 1.59 / (1.3 * 4))
    assert set(row) <= set(layers.PER_LAYER)


def _topk(rows):
    return pd.DataFrame(rows, columns=["claim_id", "rank", "doc_id", "score"])


def test_compare_topk_accepts_equal_and_tied_orders():
    a = _topk([(1, 1, 10, 3.0), (1, 2, 11, 2.0), (1, 3, 12, 2.0 + 1e-12)])
    b = _topk([(1, 1, 10, 3.0), (1, 2, 12, 2.0), (1, 3, 11, 2.0)])
    assert run.compare_topk(a, a) == []
    assert run.compare_topk(a, b) == []


def test_compare_topk_rejects_wrong_doc_score_or_length():
    a = _topk([(1, 1, 10, 3.0), (1, 2, 11, 2.0), (1, 3, 12, 1.0)])
    assert run.compare_topk(a, _topk([(1, 1, 11, 3.0), (1, 2, 10, 2.0), (1, 3, 12, 1.0)]))
    assert run.compare_topk(a, _topk([(1, 1, 10, 3.0), (1, 2, 11, 2.1), (1, 3, 12, 1.0)]))
    assert run.compare_topk(a, _topk([(1, 1, 10, 3.0), (1, 2, 11, 2.0)]))
    assert run.compare_topk(a, _topk([]))


def test_benchmark_json_matches_printed_metrics():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == layers.PER_LAYER
