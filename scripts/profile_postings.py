"""Profile ONLY the postings stage (prepare_webpages -> tokenize -> write)
at one core count, printing stage wall plus a breakdown of CPU time by
process kind (java vs python workers) sampled from /proc.

Usage: taskset -c <cpus> python scripts/profile_postings.py <cores> [substage]
substage: all (default) | dedup | ids | extract
  dedup   = latest_per_url only, write to noop
  ids     = dedup + assign ids, write to noop
  extract = dedup + ids + html->text, write to noop
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CACHE = "/tmp/spark_graft_bench"


def proc_cpu_by_kind() -> dict[str, float]:
    """Sum utime/stime (sec) of all live processes, bucketed by comm.
    Includes dead-children time via /proc/<pid>/stat cutime/cstime of
    still-live parents (fields 15,16)."""
    out = {"java_u": 0.0, "java_s": 0.0, "python_u": 0.0, "python_s": 0.0,
           "other": 0.0}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            comm = open(f"/proc/{pid}/comm").read().strip()
        except OSError:
            continue
        u = int(parts[11]) / 100.0
        s = int(parts[12]) / 100.0
        if "java" in comm:
            out["java_u"] += u
            out["java_s"] += s
        elif "python" in comm:
            out["python_u"] += u
            out["python_s"] += s
        else:
            out["other"] += u + s
    return out


def main(cores: int, substage: str) -> None:
    import bench
    from defactonlp_spark.operators import postings as P
    from defactonlp_spark.plans.build import prepare_webpages

    pages_path = bench._webpages_path()
    out = f"{CACHE}/postings_profile_{cores}"
    shutil.rmtree(out, ignore_errors=True)
    spark = bench._spark(cores, shuffle_partitions=64)
    try:
        bench._warmup(spark)
        pages = spark.read.parquet(pages_path)
        c0 = proc_cpu_by_kind()
        # GC baseline from the JVM
        jvm = spark.sparkContext._jvm
        t0 = time.time()
        if substage == "dedup":
            df = P.latest_per_url(pages)
        elif substage == "ids":
            df = P.assign_doc_ids(P.latest_per_url(pages), strategy="partitioned")
        elif substage == "extract":
            df = prepare_webpages(pages, id_strategy="partitioned")
        elif substage == "fused":
            from defactonlp_spark.functions.tokenize import tokenize_postings_html
            from defactonlp_spark.plans.build import prepare_webpages_fused
            df = tokenize_postings_html(prepare_webpages_fused(pages))
        else:
            df = P.build_postings(prepare_webpages(pages, id_strategy="partitioned"))
        if substage in ("all", "fused"):
            df.write.mode("overwrite").parquet(out)
        else:
            df.write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        c1 = proc_cpu_by_kind()
        gc_ms = 0
        for b in jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans():
            gc_ms += b.getCollectionTime()
        print(json.dumps({
            "cores": cores, "substage": substage, "wall": round(wall, 2),
            "cpu": {k: round(c1[k] - c0[k], 1) for k in c1},
            "jvm_gc_sec_total": round(gc_ms / 1000.0, 1),
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]), sys.argv[2] if len(sys.argv) > 2 else "all")
