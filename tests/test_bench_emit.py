"""The driver records only the last 2000 chars of bench stdout (every
BENCH_r0*.json "tail" field is exactly 2000 chars); round 3 lost its bench
record because the final JSON line outgrew that window.  _fit_line is the
hard guarantee that can never happen again, whatever the query count."""

import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)

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


# ---- the budgeted section runner (stub sections, no Spark) ----------------


def _record(name, log):
    def section(runner):
        log.append(name)
    return section


def test_raising_section_is_named_and_later_sections_still_run():
    log = []

    def broken(runner):
        raise ZeroDivisionError("float division by zero\n  at some deeper frame")

    runner = bench.Runner(600)
    runner.run([("a", _record("a", log)), ("broken", broken), ("c", _record("c", log))])
    assert log == ["a", "c"]
    assert runner.results["section_errors"] == {
        "broken": "ZeroDivisionError: float division by zero"}
    assert runner.results["skipped"] == []
    assert "interrupted" not in runner.results


def test_exhausted_budget_lists_the_remaining_sections_in_skipped():
    log = []
    runner = bench.Runner(0.05)
    runner.run([("slow", lambda r: time.sleep(0.1)), ("b", _record("b", log)),
                ("c", _record("c", log))])
    assert log == []
    assert runner.results["skipped"] == ["b", "c"]
    assert runner.results["section_errors"] == {}


def test_time_queries_starts_no_query_past_the_deadline():
    walls, errors = bench.time_queries(
        None, {"fine_query": _fine, "late_query": _fine}, "/nowhere",
        deadline=time.monotonic() - 1)
    assert walls == {} and errors == {}


def test_time_queries_keeps_measured_walls_when_interrupted():
    walls, errors = {}, {}

    def interrupt():
        raise SystemExit(143)

    try:
        bench.time_queries(None, {"broken_query": _broken, "fine_query": _fine,
                                  "never_started": _fine}, "/nowhere",
                           after=interrupt, walls=walls, errors=errors)
    except SystemExit:
        pass
    assert walls["broken_query"] == -1.0 and walls["fine_query"] >= 0.0
    assert "never_started" not in walls
    assert errors == {"broken_query": "ZeroDivisionError: float division by zero"}


def test_emitted_line_fits_and_carries_every_headline(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(bench, "FULL_RESULTS_PATH", str(tmp_path / "full.json"))
    c = _compact(171)
    results = {k: c[k] for k in ("metric", "value", "unit", "sf", "queries",
                                 "fixtures_warmup_sec")}
    results.update(skipped=[], queries_skipped=0, elapsed_sec=1234.5,
                   section_errors={"build_scaling": "RuntimeError: " + "x" * 150})
    results["query_errors"] = {"some_operator_name_000": "AnalysisException: " + "y" * 150}
    metrics = {k: {"value": 123.456, "unit": "u"} for k in (
        "setup_s", "build_docs_per_s", "index_bytes_per_doc", "claims_per_s",
        "batch_p50_s", "peak_rss_mb")}
    results["serving"] = {w: {"trace0": {"correct": True, "attempted": 40, "failed": 0,
                                         "metrics": metrics},
                              "trace1": {"metrics": {"kernel.wall_s": {"value": 0.0}}}}
                          for w in bench.WORKLOADS}
    results["index_build"] = {"pair_efficiencies": [0.781, 0.802, 0.79],
                              "scaling_efficiency_median": 0.79, "runs": [{}] * 3}
    bench._emit(results)
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(line) <= bench._MAX_LINE
    out = json.loads(line)
    assert out["value"] == c["value"] and out["skipped"] == []
    assert out["queries_skipped"] == 0 and out["queries_total"] == 171
    for w in bench.WORKLOADS:
        assert out[w] == {"claims_per_s": 123.456, "batch_p50_s": 123.456,
                          "build_docs_per_s": 123.456, "correct": True}
    assert out["ib_pair_efficiencies"] == [0.781, 0.802, 0.79]
    assert out["ib_scaling_efficiency_median"] == 0.79
    assert "kernel.wall_s" not in line and "runs" not in out
    assert json.loads((tmp_path / "full.json").read_text())["serving"] == results["serving"]


def _sleeper(pidfile) -> list:
    return [sys.executable, "-c",
            f"import os, time; open({str(pidfile)!r}, 'w').write(str(os.getpid())); "
            "time.sleep(600)"]


def _gone(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return True
    return False


def _wait_for_pid(pidfile, proc) -> int:
    t0 = time.monotonic()
    while time.monotonic() - t0 < 60 and proc.poll() is None:
        if pidfile.exists() and pidfile.read_text():
            return int(pidfile.read_text())
        time.sleep(0.05)
    raise AssertionError("the stub section's child never started")


def test_budget_timeout_stops_the_child(tmp_path):
    pidfile = tmp_path / "child.pid"
    runner = bench.Runner(1.0)
    runner.run([("stub", lambda r: bench.run_child(_sleeper(pidfile), r))])
    assert runner.results["section_errors"]["stub"].startswith("TimeoutError")
    assert _gone(int(pidfile.read_text()))


def test_sigterm_emits_the_line_and_leaves_no_child(tmp_path):
    pidfile = tmp_path / "child.pid"
    script = (
        "import sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "import bench\n"
        f"cmd = {_sleeper(pidfile)!r}\n"
        "stub = lambda runner: bench.run_child(cmd, runner)\n"
        "sys.exit(bench.main([('stub', stub), ('after', stub)], budget_sec=600))\n"
    )
    env = dict(os.environ, BENCH_FULL_PATH=str(tmp_path / "full.json"))
    proc = subprocess.Popen([sys.executable, "-c", script], stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True, env=env)
    try:
        pid = _wait_for_pid(pidfile, proc)
        proc.send_signal(signal.SIGTERM)
        out, err = proc.communicate(timeout=60)
    finally:
        proc.kill()
    assert proc.returncode == 128 + signal.SIGTERM, err
    line = json.loads(out.strip().splitlines()[-1])
    assert line["interrupted"] == "stub"
    assert line["skipped"] == ["after"]
    assert _gone(pid)


def test_default_cores_is_the_affinity_mask_unless_set(monkeypatch):
    from defactonlp_spark.session import default_cores

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3
