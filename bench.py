"""Time-budgeted benchmark. Runs three sections in priority order against one
deadline and always prints ONE JSON line as the last stdout line:

1. ``harness``: the ``__spark_entry__.queries()`` walls at
   ``SPARK_GRAFT_SF_DIR``, after a warm-up of the shared fixtures that is
   timed as its own field and added to ``value``. The deadline is checked
   before each query; ``queries_skipped`` counts the ones not started.
2. ``serving``: per perfbench workload, one ``perfbench/run.py --seed 1
   --seconds 15 --trace 0`` run (the end-to-end metrics), then, while budget
   remains, one ``--trace 1`` run (the per-layer metrics, full-results file
   only).
3. ``build_scaling``: up to 3 interleaved local[4] -> local[1] pairs of one
   pinned index build over 20,000 pages; efficiency = (T_1 / T_4) / 4 per
   pair, the median is the headline. Skipped on a host with fewer than 4
   cores.

A section that raises is named in ``section_errors`` with its
:func:`failure_line` and the next one still runs. Sections that the deadline
leaves unstarted are listed in ``skipped``. Every subprocess runs in its own
session with the remaining budget as its timeout; on that timeout, or when
this process gets SIGTERM, its whole process group gets SIGTERM and, 30 s
later, SIGKILL. SIGTERM ends the run through the same ``finally`` that
prints the line, which then names the ``interrupted`` section.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the CPUs this process may run on),
     BENCH_BUDGET_SEC (default 1800), BENCH_FULL_PATH (full-results file).

Scaling protocol (BASELINE.md): the same build (identical plan, 64 range
partitions) on the same input at local[N] vs local[4N], each run in its own
CPU-pinned subprocess. N=1: this guest's throughput for the build's
bandwidth-heavy hot paths (pandas string kernels, Arrow IPC, lz4 shuffle)
ceilings at roughly 5-8 busy cores, so 1-vs-4 keeps both levels below that
ceiling, the stand-in for N vs 4N executors that each bring their own memory
bandwidth. The 4N run goes first in each pair so OS cache warm-up accrues to
the small level, which keeps the efficiency conservative. Adjacent runs see
nearly the same host, so per-pair ratios cancel slow host drift; per-run
hypervisor steal is published as the noise flag.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from defactonlp_spark.session import default_cores  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cores()
BUDGET_SEC = float(os.environ.get("BENCH_BUDGET_SEC", "1800"))
FULL_RESULTS_PATH = os.environ.get(
    "BENCH_FULL_PATH", os.path.join(ROOT, "BENCH_full_latest.json")
)
CACHE = os.path.join(tempfile.gettempdir(), "spark_graft_bench")  # $TMPDIR, default /tmp

WORKLOADS = ("serve_warm_head", "serve_cold_tail")
SERVE_SECONDS = 15
#: perfbench metrics carried on the line, per workload
SERVE_HEADLINES = ("claims_per_s", "batch_p50_s", "build_docs_per_s")

N_PAGES = 20_000
N_SMALL, N_LARGE = 1, 4
MAX_PAIRS = 3
BUILD_BUCKETS = 64  # identical job definition at BOTH parallelism levels:
# 64 range partitions = 4-16 tasks per core, so the scaling comparison
# varies ONLY the core count, never the plan, and stragglers amortize.

#: seconds a child's process group gets between SIGTERM and SIGKILL
KILL_GRACE_SEC = 30


def failure_line(exc: BaseException) -> str:
    """``ExceptionClass: first line of its message``, at most 160 chars."""
    first = (str(exc).strip().splitlines() or [""])[0]
    return f"{type(exc).__name__}: {first}"[:160]


class Runner:
    """Runs ``(name, fn)`` sections in order against one deadline. Each
    ``fn(runner)`` writes what it measured into ``runner.results``; the
    caller emits ``results`` whatever happened."""

    def __init__(self, budget_sec: float):
        self.budget_sec = budget_sec
        self.t0 = time.monotonic()
        self.deadline = self.t0 + budget_sec
        self.terminated = False
        self.results: dict = {
            "metric": "harness queries wall (sf) + perfbench serving + build N-vs-4N scaling",
            "unit": "sec",
            "sf": SF_DIR,
            "budget_sec": budget_sec,
            "skipped": [],
            "section_errors": {},
            "section_walls": {},
        }

    def left(self) -> float:
        return self.deadline - time.monotonic()

    def terminate(self, signum, _frame) -> None:
        """SIGTERM handler: unwind through every ``finally`` once. A second
        SIGTERM is ignored so it cannot cut that cleanup short."""
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        self.terminated = True
        raise SystemExit(128 + signum)

    def run(self, sections: list) -> None:
        names = [name for name, _ in sections]
        for i, (name, fn) in enumerate(sections):
            if self.left() <= 0:
                self.results["skipped"] += names[i:]
                break
            t0 = time.monotonic()
            try:
                fn(self)
            except Exception as exc:
                if not self.terminated:  # else a teardown error of the interrupt
                    self.results["section_errors"][name] = failure_line(exc)
            except BaseException:
                self.terminated = True
            finally:
                self.results["section_walls"][name] = round(time.monotonic() - t0, 1)
            if self.terminated:
                self.results["interrupted"] = name
                self.results["skipped"] += names[i + 1:]
                raise SystemExit(128 + signal.SIGTERM)
        self.results["elapsed_sec"] = round(time.monotonic() - self.t0, 1)


def _stop_group(proc: subprocess.Popen) -> None:
    """SIGTERM ``proc``'s process group, SIGKILL what is left of it once
    ``proc`` exits or KILL_GRACE_SEC pass, and reap ``proc``."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
        try:
            proc.wait(timeout=KILL_GRACE_SEC)
        except subprocess.TimeoutExpired:
            pass
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def run_child(cmd: list, runner: Runner) -> str:
    """Run ``cmd`` from the repo root in its own session, with the remaining
    budget as its timeout, and return its stdout. On a timeout, a failure or
    an interrupt its whole process group is stopped before this returns."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    timeout = max(runner.left(), 1.0)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        _stop_group(proc)
        raise TimeoutError(f"{' '.join(cmd[-8:])} stopped at the deadline, "
                           f"after {timeout:.0f} s") from None
    except BaseException:
        _stop_group(proc)
        raise
    if proc.returncode != 0:
        tail = (err.strip().splitlines() or [""])[-1]
        raise RuntimeError(f"{' '.join(cmd[-8:])} exited {proc.returncode}: {tail}")
    return out


def _last_json(out: str) -> dict:
    return json.loads(out.strip().splitlines()[-1])


# ---------------------------------------------------------------- harness


def _spark(cores: int, shuffle_partitions: int | None = None):
    from defactonlp_spark.session import get_spark

    # get_spark's default driver heap (48g) lets a long session's JVM grow
    # past the RAM of a 16 GB host; the bench's live set is far smaller
    os.environ.setdefault("SPARK_DRIVER_MEM", "6g")
    return get_spark(f"bench{cores}", cores=cores,
                     shuffle_partitions=shuffle_partitions or max(cores, 8),
                     extra={"spark.ui.showConsoleProgress": "false",
                            # html rows expand 10-100x after decompression +
                            # extraction; split the scan by EXPANDED cost so
                            # the corpus read parallelizes (default 128m
                            # would pack the whole fixture into ~3 tasks)
                            "spark.sql.files.maxPartitionBytes": "16m",
                            "spark.sql.files.openCostInBytes": "1m"})


def time_queries(spark, entries: dict, sf_dir: str, after=None,
                 deadline: float | None = None, walls: dict | None = None,
                 errors: dict | None = None) -> tuple[dict, dict]:
    """Run each ``entries[name](spark, sf_dir)`` into the noop sink (a plain
    ``count()`` when that fails) and time it. Returns ``(walls, errors)``:
    a query that fails both ways walls ``-1.0`` and its
    :func:`failure_line` goes into ``errors``. ``after()`` runs after each
    successful query (the long-session contract: drop operator-persisted
    intermediates so executor storage and GC pressure do not accumulate).
    No query starts once ``time.monotonic()`` has passed ``deadline``; the
    ones left out are absent from ``walls``. ``walls`` and ``errors`` are
    filled as each query ends, so a caller that passes its own dicts keeps
    what was measured when an interrupt cuts the loop short."""
    walls = {} if walls is None else walls
    errors = {} if errors is None else errors
    for name, fn in entries.items():
        if deadline is not None and time.monotonic() >= deadline:
            break
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            # noop sink unavailable or query failure -> fall back to count
            try:
                fn(spark, sf_dir).count()
            except Exception as exc:
                walls[name] = -1.0
                errors[name] = failure_line(exc)
                continue
        walls[name] = round(time.time() - t0, 3)
        if after is not None:
            after()
    return walls, errors


def harness(runner: Runner) -> None:
    import __spark_entry__ as entrymod
    from defactonlp_spark.operators.dedup import release_cached

    r = runner.results
    entries = entrymod.queries()
    queries, errors = r.setdefault("queries", {}), {}
    spark = _spark(CPUS)
    try:
        # warm the session-scoped shared fixtures (postings / positional
        # tokens / segment table / child corpus) OUTSIDE the per-query walls
        # but INSIDE the reported total: a deployment encodes once and serves
        # many, and per-query rebuild walls measure host state, not the engine
        t0 = time.time()
        entrymod._postings_cached(spark, SF_DIR).count()
        entrymod._tokens_cached(spark, SF_DIR).count()
        entrymod._segments_cached(spark, SF_DIR)[0].count()
        entrymod._child_postings(spark, SF_DIR).count()
        r["fixtures_warmup_sec"] = round(time.time() - t0, 2)
        time_queries(spark, entries, SF_DIR, release_cached,
                     deadline=runner.deadline, walls=queries, errors=errors)
    finally:
        # recorded before spark.stop(): after a SIGTERM to the whole process
        # group the JVM may be gone and stop() raise
        r["queries_skipped"] = len(entries) - len(queries)
        if errors:
            r["query_errors"] = errors
        if "fixtures_warmup_sec" in r:
            r["value"] = round(sum(v for v in queries.values() if v > 0)
                               + r["fixtures_warmup_sec"], 2)
        spark.stop()


# ---------------------------------------------------------------- serving


def _perfbench(workload: str, trace: int, runner: Runner) -> dict:
    return _last_json(run_child(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", str(SERVE_SECONDS), "--trace", str(trace)],
        runner))


def serving(runner: Runner) -> None:
    """End-to-end runs of both workloads first, traced runs after them."""
    out = runner.results.setdefault("serving", {})
    for trace in (0, 1):
        for w in WORKLOADS:
            if trace and runner.left() <= 0:
                return
            out.setdefault(w, {})[f"trace{trace}"] = _perfbench(w, trace, runner)


# ---------------------------------------------------------- build scaling


def _webpages_path() -> str:
    os.makedirs(CACHE, exist_ok=True)
    path = f"{CACHE}/webpages_{N_PAGES}.parquet"
    if not os.path.exists(path):
        from defactonlp_spark.sources.fixtures import write_webpages_parquet

        write_webpages_parquet(path, N_PAGES)
    return path


def _warmup(spark):
    """Pay JVM JIT + Python-worker spawn before the timed section: one tiny
    job through every stage type the build uses (scan, shuffle, pandas UDF)."""

    def ident(it):
        for pdf in it:
            yield pdf

    (
        spark.range(0, 10000, 1, 8)
        .selectExpr("id", "cast(id as string) s", "id % 8 as k")
        .mapInPandas(ident, schema="id long, s string, k long")
        .groupBy("k")
        .count()
        .collect()
    )


def _steal_jiffies() -> int:
    """Hypervisor CPU-steal counter: this VM shares a host whose neighbor
    load varies; steal during a run flags externally-inflated wall times."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def bench_index_build(cores: int) -> dict:
    """Full pipeline: read parquet -> dedup -> extract html -> tokenize ->
    salt -> range shuffle -> encode varbyte segments -> commit. The
    ``--build-only`` subprocess body."""
    from defactonlp_spark.config import EngineConfig
    from defactonlp_spark.plans.build import IndexBuild, prepare_webpages_fused

    pages_path = _webpages_path()
    out = f"{CACHE}/idx_{cores}"
    shutil.rmtree(out, ignore_errors=True)
    spark = _spark(cores, shuffle_partitions=BUILD_BUCKETS)
    try:
        _warmup(spark)
        pages = spark.read.parquet(pages_path)
        s0 = _steal_jiffies()
        t0 = time.time()
        corpus = prepare_webpages_fused(pages)
        cfg = EngineConfig(n_buckets=BUILD_BUCKETS)
        props = IndexBuild(out, cfg, build_id=f"bench{cores}", n_groups=1).run(
            spark, corpus, input_snapshot=pages_path
        )
        wall = time.time() - t0
        return {"wall_sec": round(wall, 2), "n_docs": int(props["n_docs"]),
                "steal": _steal_jiffies() - s0,
                "stage_walls": props.get("stage_walls", {})}
    finally:
        spark.stop()
        shutil.rmtree(out, ignore_errors=True)


def _build_in_subprocess(cores: int, runner: Runner) -> dict:
    """Each timed build gets its own OS process, CPU-PINNED to exactly
    ``cores`` vCPUs (taskset). Two reasons: (a) a stopped-and-recreated
    SparkContext in a reused JVM gateway runs measurably slower (observed
    ~2x); (b) without pinning, local[c]'s JVM task threads and Python
    workers overlap onto MORE than c hardware threads — measured 2.6 busy
    threads at local[2] vs 7.7 at local[8], which silently turns the
    "2 vs 8" comparison into "2.6 vs 7.7". Pinning gives each level exactly
    its hardware allocation — the faithful stand-in for N vs 4N executors,
    which are fixed-core containers."""
    cmd = [sys.executable, os.path.abspath(__file__), "--build-only", str(cores)]
    if shutil.which("taskset"):
        # pin at the TOP of the allowed cpus: cpu0/1 also service kernel
        # interrupts and background daemons, which taxes small pinned sets
        # disproportionately (measured ~2x on a 2-cpu set at cpus 0-1)
        cpus = sorted(os.sched_getaffinity(0))[-cores:]
        cmd = ["taskset", "-c", ",".join(map(str, cpus))] + cmd
    return _last_json(run_child(cmd, runner))


def build_scaling(runner: Runner) -> None:
    if len(os.sched_getaffinity(0)) < N_LARGE:
        runner.results["skipped"].append("build_scaling")
        return
    _webpages_path()  # generate once, outside any timing
    pairs: list = []
    ib = runner.results["index_build"] = {
        "pages": N_PAGES, "pair": f"local[{N_LARGE}] -> local[{N_SMALL}]", "runs": pairs}
    for _ in range(MAX_PAIRS):
        if runner.left() <= 0:
            break
        big = _build_in_subprocess(N_LARGE, runner)
        small = _build_in_subprocess(N_SMALL, runner)
        pairs.append({f"local{N_LARGE}": big, f"local{N_SMALL}": small})
        effs = [round(p[f"local{N_SMALL}"]["wall_sec"] / p[f"local{N_LARGE}"]["wall_sec"]
                      / (N_LARGE / N_SMALL), 3) for p in pairs]
        ib["pair_efficiencies"] = effs
        ib["scaling_efficiency_median"] = round(statistics.median(effs), 3)


SECTIONS = [("harness", harness), ("serving", serving), ("build_scaling", build_scaling)]


# ------------------------------------------------------------------ emit


def _emit(results: dict) -> None:
    """Write the FULL results dict to a file and print a COMPACT summary as
    the final stdout line: end-to-end headlines only. Raw runs, per-stage
    build walls and perfbench's per-layer tables live in the file. Query
    walls are rounded to 1 dp on the line (3 dp in the file)."""
    with open(FULL_RESULTS_PATH, "w") as f:
        json.dump(results, f, indent=1)
    compact = {k: results[k] for k in ("metric", "value", "unit", "sf") if k in results}
    compact["queries"] = {k: round(v, 1) for k, v in results.get("queries", {}).items()}
    compact["full_results"] = FULL_RESULTS_PATH
    for key in ("queries_skipped", "fixtures_warmup_sec", "elapsed_sec",
                "interrupted", "skipped"):
        if key in results:
            compact[key] = results[key]
    if results.get("section_errors"):
        compact["section_errors"] = results["section_errors"]
    for w, runs in (results.get("serving") or {}).items():
        run = runs.get("trace0") or {}
        metrics = run.get("metrics") or {}
        compact[w] = {k: round(metrics[k]["value"], 3) for k in SERVE_HEADLINES if k in metrics}
        compact[w]["correct"] = run.get("correct")
    ib = results.get("index_build") or {}
    for key in ("pair_efficiencies", "scaling_efficiency_median"):
        if key in ib:
            compact[f"ib_{key}"] = ib[key]
    if results.get("query_errors"):
        compact["query_errors"] = results["query_errors"]
    print(json.dumps(_fit_line(compact)), flush=True)


# The driver records only the LAST 2000 characters of stdout (BENCH_r0*.json
# "tail" is exactly 2000 chars across all rounds); a final line longer than
# that gets its head sheared off and parses to null — round 3 lost its bench
# record this way. 1750: the captured tail also carries ~100-150 chars of
# preceding WARN lines, so the real budget is below 2000; 1750 keeps >=250
# bytes of capture headroom while the adaptive queries_shown fill still
# surfaces the slowest walls.
_MAX_LINE = 1750


def _fit_line(compact: dict) -> dict:
    """Hard-cap the summary line at _MAX_LINE bytes.

    If the full per-query dict does not fit, keep the SLOWEST queries (the
    informative tail) and replace the rest with queries_shown/queries_total
    counters plus queries_omitted_sec (their summed wall, so the shown walls
    + omitted total still reconcile with `value`). Failure reasons
    (``query_errors``) are cut to 80 chars each and to at most half the
    line (``query_errors_omitted`` counts the ones left off). The
    complete per-query dict always lives in the full-results file."""
    if len(json.dumps(compact)) <= _MAX_LINE:
        return compact
    errs = compact.get("query_errors")
    if errs:
        compact = dict(compact)
        cut = sorted((k, v[:80]) for k, v in errs.items())
        n = len(cut)
        while n and len(json.dumps(dict(cut[:n]))) > _MAX_LINE // 2:
            n -= 1
        compact["query_errors"] = dict(cut[:n])
        if n < len(cut):
            compact["query_errors_omitted"] = len(cut) - n
    qs = compact.get("queries", {})
    by_slow = sorted(qs.items(), key=lambda kv: -(kv[1] if kv[1] > 0 else 1e9))
    # -1.0 failure sentinels sort first so a failed query is never hidden
    lo, hi = 0, len(by_slow)
    while lo < hi:  # largest K that fits
        mid = (lo + hi + 1) // 2
        trial = dict(compact)
        kept = dict(by_slow[:mid])
        trial["queries"] = kept
        trial["queries_shown"] = mid
        trial["queries_total"] = len(by_slow)
        trial["queries_omitted_sec"] = 9999.99
        if len(json.dumps(trial)) <= _MAX_LINE:
            lo = mid
        else:
            hi = mid - 1
    kept = dict(by_slow[:lo])
    compact = dict(compact)
    compact["queries"] = kept
    compact["queries_shown"] = lo
    compact["queries_total"] = len(by_slow)
    compact["queries_omitted_sec"] = round(
        sum(v for k, v in by_slow[lo:] if v > 0), 2)
    return compact


def main(sections: list | None = None, budget_sec: float = BUDGET_SEC) -> int:
    runner = Runner(budget_sec)
    signal.signal(signal.SIGTERM, runner.terminate)
    try:
        runner.run(SECTIONS if sections is None else sections)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        _emit(runner.results)
    return 0


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--build-only":
        print(json.dumps(bench_index_build(int(sys.argv[2]))))
    else:
        sys.exit(main())
