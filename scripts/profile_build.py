"""Per-stage wall-time profile of the index build at one core count.

Usage: taskset -c <cpus> python scripts/profile_build.py <cores>
Prints one JSON line: {"cores": c, "stages": {name: sec, ...}, "total": sec}

Replicates bench.py's bench_index_build (same session conf, same fixture,
n_groups=1, 64 buckets) with a timer around every materialization so the
scaling loss can be attributed stage by stage.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from defactonlp_spark.config import EngineConfig  # noqa: E402

CACHE = "/tmp/spark_graft_bench"
N_PAGES = int(os.environ.get("BENCH_WEBPAGES", "320000"))
BUILD_BUCKETS = 64


def _busy() -> float:
    with open("/proc/stat") as f:
        p = [int(x) for x in f.readline().split()[1:]]
    return (sum(p) - p[3] - p[4]) / 100.0


def main(cores: int) -> None:
    import bench
    from pyspark.sql import functions as F
    from defactonlp_spark.operators import postings as P
    from defactonlp_spark.operators.segments import encode_segments
    from defactonlp_spark.plans import build as B
    from defactonlp_spark.functions.tokenize import tokenize_postings_html
    from defactonlp_spark.plans.build import IndexBuild, prepare_webpages_fused

    pages_path = bench._webpages_path()
    out = f"{CACHE}/idx_profile_{cores}"
    shutil.rmtree(out, ignore_errors=True)
    spark = bench._spark(cores, shuffle_partitions=BUILD_BUCKETS)
    stages: dict[str, float] = {}
    cpu: dict[str, float] = {}
    t_all = time.time()

    def mark(name: str, t0: float, b0: float) -> None:
        stages[name] = time.time() - t0
        cpu[name] = _busy() - b0

    try:
        bench._warmup(spark)
        t_all = time.time()
        pages = spark.read.parquet(pages_path)
        cfg = EngineConfig(n_buckets=BUILD_BUCKETS)
        ib = IndexBuild(out, cfg, build_id=f"prof{cores}", n_groups=1)

        t0, b0 = time.time(), _busy()
        corpus = prepare_webpages_fused(pages)
        mark("plan_prepare", t0, b0)

        t0, b0 = time.time(), _busy()
        tokenize_postings_html(corpus).write.mode("overwrite").parquet(ib.postings_dir)
        mark("postings_write", t0, b0)

        postings = spark.read.parquet(ib.postings_dir)
        t0, b0 = time.time(), _busy()
        stats_path = os.path.join(out, "term_stats")
        P.term_stats(postings).write.mode("overwrite").parquet(stats_path)
        mark("term_stats_write", t0, b0)

        stats = spark.read.parquet(stats_path)
        t0, b0 = time.time(), _busy()
        n_terms = B._parquet_rows(stats_path)
        boundaries = B.bucket_boundaries(stats, cfg.n_buckets, n_terms_hint=n_terms)
        mark("boundaries", t0, b0)

        t0, b0 = time.time(), _busy()
        cs = P.corpus_stats(postings).collect()[0]
        mark("corpus_stats", t0, b0)
        n_docs, avgdl = int(cs["n_docs"]), float(cs["avgdl"])

        t0, b0 = time.time(), _busy()
        seg = encode_segments(
            postings, stats, n_docs, avgdl, cfg, n_partitions=cfg.n_buckets
        ).withColumn("bucket", B.bucket_expr(boundaries))
        ib.segments.append(seg, properties={"profile": True})
        mark("encode_append", t0, b0)

        t0, b0 = time.time(), _busy()
        seg_now = ib.segments.read(spark)
        seg_now.groupBy("bucket").agg(
            F.sum("n").alias("rows"), F.sum("n_bytes").alias("bytes"),
            F.min("term"), F.max("term"),
        ).collect()
        mark("metrics_readback", t0, b0)

        print(json.dumps({"cores": cores,
                          "stages": {k: round(v, 2) for k, v in stages.items()},
                          "cpu_sec": {k: round(v, 1) for k, v in cpu.items()},
                          "total": round(time.time() - t_all, 2)}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]))
