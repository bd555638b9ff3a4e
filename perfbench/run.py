"""Layered benchmark of the index build and BM25 top-k serving.

Run from the repository root:

    python3 perfbench/run.py --workload serve_warm_head --seed 1 --seconds 15 --trace 0

Each run builds an index from generated webpages once (the write path,
timed), then serves claim batches from it in a closed loop: one client
submits a batch, waits for its result, then submits the next. Spark runs as ``local[nproc]``. Workloads:

- ``serve_warm_head``: Zipf-head claims through a warm ``ServingSession``
  (segments cached in executor storage);
- ``serve_cold_tail``: selective mid/tail claims, about one in ten with an
  out-of-vocabulary token, through one-shot ``query_wand``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the session also writes Spark's event log and the line carries
the per-layer metrics (see perfbench/README.md). Either way every build is
checked against its input's distinct urls and every batch is cross-checked
on a sample of claims against ``query_exhaustive``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("serve_warm_head", "serve_cold_tail")

#: distinct pages per build (plus ~3% recrawled duplicates)
SERVE_DOCS = 2000
#: prepare_webpages_fused partition count (pinned: doc ids depend on it)
CORPUS_PARTS = 4
N_BUCKETS = 4
#: bucket groups per build: one encode job over all buckets keeps every
#: core busy at this corpus size
BUILD_GROUPS = 1
TOP_K = 5
#: claims per submitted batch and the pool they come from, per workload
BATCH_CLAIMS = {"serve_warm_head": 256, "serve_cold_tail": 64}
POOL = {"serve_warm_head": "head", "serve_cold_tail": "tail"}
#: claims in the untimed batch that compiles the serving path during set-up
WARMUP_CLAIMS = 8
#: claims per batch cross-checked against query_exhaustive
CHECK_PER_BATCH = 4
#: a run serves at least this many batches, even past --seconds
MIN_OPS = 2
#: batches whose gathered slices are re-decoded alone (trace only)
DECODE_SAMPLE_BATCHES = 2
SCORE_TOL = 1e-9

END_TO_END_UNITS = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_doc": "B/doc",
    "claims_per_s": "claims/s",
    "batch_p50_s": "s",
    "peak_rss_mb": "MB",
}


def _env(work: str) -> None:
    """Host fit. Everything the session writes stays under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers must import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # session.py defaults the driver to 48g; local mode runs executors in it
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files under /tmp from the launcher or driver JVMs
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _dir_bytes(path: str) -> int:
    total = 0
    for dp, _, fns in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in fns if f.endswith(".parquet"))
    return total


def _failure(kind: str, exc: BaseException) -> str:
    line = f"{type(exc).__name__}: {(str(exc).strip().splitlines() or [''])[0]}"
    _log(f"{kind} failed: {line}")
    return line


def compare_topk(wand, exh) -> list[str]:
    """Mismatches between two top-k result frames (claim_id, rank, doc_id,
    score). Doc ids must agree rank by rank and scores within SCORE_TOL;
    the only freedom is the order of documents whose scores tie within
    SCORE_TOL, which the exhaustive path sums in an unpinned order."""
    bad = []

    def lists(df):
        return {
            int(c): [(int(d), float(s)) for d, s in zip(g["doc_id"], g["score"])]
            for c, g in df.sort_values(["claim_id", "rank"]).groupby("claim_id")
        }

    w, e = lists(wand), lists(exh)
    for cid in sorted(set(w) | set(e)):
        a, b = w.get(cid, []), e.get(cid, [])
        if len(a) != len(b):
            bad.append(f"claim {cid}: {len(a)} wand rows vs {len(b)} exhaustive")
            continue
        for i, ((da, sa), (db, sb)) in enumerate(zip(a, b)):
            if abs(sa - sb) > SCORE_TOL:
                bad.append(f"claim {cid} rank {i + 1}: score {sa!r} vs {sb!r}")
                break
            tied = i == len(a) - 1 or any(
                j != i and abs(a[j][1] - sa) <= SCORE_TOL for j in range(len(a))
            )
            if da != db and not tied:
                bad.append(f"claim {cid} rank {i + 1}: doc {da} vs {db}")
                break
    return bad


class Run:
    """One benchmark invocation: inputs, session, build, batches, checks."""

    def __init__(self, args: argparse.Namespace, work: str, rss):
        from defactonlp_spark.config import EngineConfig

        import inputs

        self.args = args
        self.work = work
        self.rss = rss
        self.trace = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.cfg = EngineConfig(n_buckets=N_BUCKETS)
        self.claims = inputs.ClaimSource(args.seed + 1)
        self.pages = os.path.join(work, "pages")
        self.n_urls = inputs.write_pages(self.pages, SERVE_DOCS, args.seed)
        self.spark = None
        self.reader = None
        self.session = None
        self.ops: list[dict] = []  # the build, then the batches
        self.checks: list[tuple] = []  # (batch op, sampled claims, their results)
        self.term_n: dict[str, int] = {}
        self.decode_rates: list[float] = []

    # -- session ----------------------------------------------------------
    def start(self) -> None:
        from defactonlp_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            "perfbench", cores=self.cores, shuffle_partitions=self.cores, extra=extra
        )

    def stop(self) -> None:
        """Stop Spark, end the JVM, and wait for every process it started."""
        if self.spark is None:
            return
        import host
        from pyspark import SparkContext

        kids = host.descendants(os.getpid())[1:]
        proc = getattr(SparkContext._gateway, "proc", None)
        spark, self.spark = self.spark, None
        try:
            spark.stop()
        finally:
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            self._wait_gone(kids)

    @staticmethod
    def _wait_gone(pids: list[int]) -> None:
        deadline = time.time() + 30
        for pid in pids:
            while True:
                try:
                    os.kill(pid, 0)
                except (ProcessLookupError, PermissionError):
                    break
                if time.time() > deadline:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, signal.SIGKILL)
                    deadline = time.time() + 5
                time.sleep(0.05)

    # -- set-up: build ----------------------------------------------------
    def build_op(self, out: str) -> dict:
        """One ``IndexBuild.run`` over the generated pages, then its checks:
        the manifest opens and indexes one document per distinct url."""
        from defactonlp_spark.plans.build import IndexBuild, IndexReader, prepare_webpages_fused

        op = {"kind": "build", "items": self.n_urls, "out": out, "ok": False}
        self.ops.append(op)
        try:
            corpus = prepare_webpages_fused(self.spark.read.parquet(self.pages), n_parts=CORPUS_PARTS)
            build_id = os.path.basename(out)
            self.rss.restart()
            t0 = time.time()
            props = IndexBuild(out, self.cfg, build_id=build_id, n_groups=BUILD_GROUPS).run(
                self.spark, corpus, input_snapshot=f"perfbench:{self.args.seed}"
            )
            t1 = time.time()
            op.update(t0=t0, t1=t1, wall=t1 - t0, props=props, rss_mb=self.rss.window_peak_mb())
            n_docs = IndexReader(self.spark, out).n_docs
            if n_docs != self.n_urls or int(props["n_docs"]) != self.n_urls:
                raise AssertionError(f"n_docs {n_docs} != distinct urls {self.n_urls}")
            op["segment_bytes"] = _dir_bytes(os.path.join(out, "segments"))
            if self.trace:
                op["bucket_skew"] = self._bucket_skew(out, build_id)
            op["ok"] = True
        except Exception as exc:
            op["error"] = _failure("build", exc)
        return op

    def _bucket_skew(self, out: str, build_id: str) -> float:
        """max/mean segment bytes per bucket, from the build's metrics table."""
        from defactonlp_spark.sources.tableio import LocalTable

        m = LocalTable(os.path.join(out, "metrics")).read(self.spark).toPandas()
        per = m[m["build_id"] == build_id].groupby("partition_id")["bytes"].sum()
        return float(per.max() / per.mean()) if len(per) and per.mean() > 0 else 0.0

    def setup(self):
        """Build and open the index, and serve one small untimed batch to
        compile the serving path. Returns the serve callable and the set-up
        seconds after session start: build, open and warm-up batch."""
        from defactonlp_spark.plans.build import IndexReader
        from defactonlp_spark.plans.query import ServingSession, query_wand

        warm = self.args.workload == "serve_warm_head"
        t = time.perf_counter()
        op = self.build_op(os.path.join(self.work, "idx"))
        _log(f"build: {op.get('wall', 0.0):.3f}s rss {op.get('rss_mb', 0.0):.0f}MB ok={op['ok']}")
        if not op["ok"]:
            raise RuntimeError(f"set-up build failed: {op['error']}")
        self.reader = IndexReader(self.spark, op["out"])
        if warm:
            self.session = ServingSession(self.reader, self.cfg)
            self.session.warm()

            def serve(c):
                return self.session.topk(c, k=TOP_K)
        else:
            def serve(c):
                return query_wand(IndexReader(self.spark, op["out"]), c, k=TOP_K, cfg=self.cfg)

        serve(self.spark.createDataFrame(self.claims.batch(POOL[self.args.workload], WARMUP_CLAIMS))).toPandas()
        return serve, time.perf_counter() - t

    # -- measured loop: batches --------------------------------------------
    def batch_op(self, serve) -> dict:
        """One claim batch through ``serve(claims_df) -> DataFrame``; a
        sample of its claims is kept for the exhaustive cross-check."""
        from defactonlp_spark.operators.bm25 import claim_terms

        size = BATCH_CLAIMS[self.args.workload]
        pdf = self.claims.batch(POOL[self.args.workload], size)
        op = {"kind": "batch", "items": size, "ok": False}
        self.ops.append(op)
        try:
            cdf = self.spark.createDataFrame(pdf)
            if self.trace:
                t = time.time()
                op["terms"] = claim_terms(cdf).toPandas()
                op["claim_tokenize_s"] = time.time() - t
            self.rss.restart()
            t0 = time.time()
            df = serve(cdf)
            t_plan = time.time()
            res = df.toPandas()
            t1 = time.time()
            op.update(t0=t0, t1=t1, wall=t1 - t0, plan_s=t_plan - t0, ok=True,
                      rss_mb=self.rss.window_peak_mb())
            sample = pdf.sample(n=min(CHECK_PER_BATCH, size), random_state=len(self.ops))
            self.checks.append((op, sample, res[res["claim_id"].isin(sample["claim_id"])]))
        except Exception as exc:
            op["error"] = _failure("batch", exc)
        return op

    def serve_loop(self, serve) -> None:
        if self.trace:
            self.index_metadata()
        deadline = time.time() + self.args.seconds
        n = 0
        while n < MIN_OPS or time.time() < deadline:
            op = self.batch_op(serve)
            _log(f"batch {n}: {op.get('wall', 0.0):.3f}s rss {op.get('rss_mb', 0.0):.0f}MB ok={op['ok']}")
            if self.trace and op["ok"]:
                self.kernel_counts(op)
                if n < DECODE_SAMPLE_BATCHES:
                    self.decode_sample(op["terms"])
            n += 1
        self.cross_check()
        if self.session is not None:
            self.session.close()

    def cross_check(self) -> None:
        """All sampled claims through query_exhaustive in one call; a batch
        with any mismatching claim counts as failed."""
        import pandas as pd

        from defactonlp_spark.plans.query import query_exhaustive

        if not self.checks:
            return
        claims = pd.concat([s for _, s, _ in self.checks], ignore_index=True)
        try:
            exh = query_exhaustive(
                self.reader, self.spark.createDataFrame(claims), k=TOP_K, cfg=self.cfg
            ).toPandas()
        except Exception as exc:
            line = _failure("exhaustive cross-check", exc)
            for op, _, _ in self.checks:
                op.update(ok=False, error=line)
            return
        for op, sample, got in self.checks:
            bad = compare_topk(got, exh[exh["claim_id"].isin(sample["claim_id"])])
            if bad:
                op.update(ok=False, error=f"wrong result: {bad[0]}")
                _log(f"batch failed: wrong result: {bad[0]}")

    # -- trace-only work counts ------------------------------------------
    def index_metadata(self) -> None:
        from pyspark.sql import functions as F

        rows = self.reader.segments().groupBy("term").agg(F.sum("n").alias("n")).collect()
        self.term_n = {r["term"]: int(r["n"]) for r in rows}

    def decode_sample(self, terms) -> None:
        """``decode_slice`` timed alone over the slices one batch gathers."""
        from pyspark.sql import functions as F

        from defactonlp_spark.operators.segments import decode_slice

        rows = list(
            self.reader.segments().filter(F.col("term").isin(sorted(set(terms["term"]))))
            .select("n", "docs_blob", "tfs_blob", "dls_blob").toPandas().itertuples(index=False)
        )
        postings = sum(int(r.n) for r in rows)
        if not postings:
            return
        times = []
        for _ in range(3):
            t = time.perf_counter()
            for r in rows:
                decode_slice(r)
            times.append(time.perf_counter() - t)
        self.decode_rates.append(postings / min(times))

    def kernel_counts(self, op: dict) -> None:
        """Candidate postings per batch and the dense/cursor split the
        serving planner makes, from segment ``n`` metadata alone."""
        cand, dense, cursor = 0, 0, 0
        for _, g in op["terms"].groupby("claim_id"):
            c = sum(self.term_n.get(t, 0) for t in set(g["term"]))
            if not c:
                continue
            cand += c
            if c <= self.cfg.dense_eval_threshold:
                dense += 1
            else:
                cursor += 1
        op.update(candidate_postings=cand, dense_claims=dense, cursor_claims=cursor)


def end_to_end(run: Run, setup_s: float) -> dict:
    ok = [o for o in run.ops if o["ok"]]
    build = next(o for o in ok if o["kind"] == "build")
    batches = [o for o in ok if o["kind"] == "batch"]
    vals = {
        "setup_s": setup_s,
        "build_docs_per_s": build["items"] / build["wall"],
        "index_bytes_per_doc": build["segment_bytes"] / build["items"],
        "claims_per_s": sum(o["items"] for o in batches) / sum(o["wall"] for o in batches),
        "batch_p50_s": statistics.median(o["wall"] for o in batches),
        "peak_rss_mb": statistics.median(o["rss_mb"] for o in ok),
    }
    return {k: {"value": float(v), "unit": END_TO_END_UNITS[k]} for k, v in vals.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import defactonlp_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        _log(f"cannot import the program: {exc}")
        return 2

    # a terminated run still stops Spark and removes its files (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)

    import host
    import layers

    run = None
    try:
        with host.RssSampler() as rss:
            steal0 = host.steal_seconds()
            run = Run(args, work, rss)  # input generation: not set-up time
            t0 = time.perf_counter()
            run.start()
            session_s = time.perf_counter() - t0
            serve, rest_s = run.setup()
            setup_s = session_s + rest_s
            _log(f"session {session_s:.2f}s, set-up {setup_s:.2f}s, "
                 f"wall so far {time.perf_counter() - t0:.2f}s")
            run.serve_loop(serve)
            steal_s = host.steal_seconds() - steal0
        run.stop()
        if not any(o["kind"] == "batch" and o["ok"] for o in run.ops):
            _log("no batch succeeded; nothing to report")
            return 1
        if args.trace:
            metrics = layers.per_layer(run, steal_s)
        else:
            metrics = end_to_end(run, setup_s)
    finally:
        try:
            if run is not None:
                run.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            base = os.path.dirname(work)
            if os.path.isdir(base) and not os.listdir(base):
                os.rmdir(base)

    failed = sum(not o["ok"] for o in run.ops)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
