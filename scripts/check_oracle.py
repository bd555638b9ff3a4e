"""Local replica of the driver's correctness harness: run every
__spark_entry__.queries() entry at sf0.01 and compare against its
oracle_sql() in DuckDB — row count, column names, and order-insensitive
values (floats rounded). Usage:

    python scripts/check_oracle.py [--bare] [sf_dir] [name-or-glob ...]

Names select entries (shell-style globs such as 'bm25*' allowed); none
means every entry. ``--bare`` runs the entries in a stock
``SparkSession.builder`` session — no Arrow, no engine daemon, no tuned
configs (only the master, the core count, and ``SPARK_DRIVER_MEM`` as the
driver heap when set) — the conditions a caller that never calls
``get_spark`` gives the engine. It imports the engine and the harness from
the checkout it sits in.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import time
import traceback
from pathlib import Path

import duckdb
import pandas as pd

# Audit the checkout this script sits in (a worktree or copy included), in
# the driver and in the Python workers Spark starts.
ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
)

import __spark_entry__ as entrymod  # noqa: E402
from defactonlp_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == "float64":
            df[c] = df[c].round(6)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def bare_session():
    """A stock session: master and core count only (plus the driver heap
    from SPARK_DRIVER_MEM when set); no get_spark configuration."""
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
    b = b.appName("oracle-check-bare").config("spark.ui.showConsoleProgress", "false")
    if os.environ.get("SPARK_DRIVER_MEM"):
        b = b.config("spark.driver.memory", os.environ["SPARK_DRIVER_MEM"])
    return b.getOrCreate()


def main():
    bare = "--bare" in sys.argv
    if bare:
        sys.argv.remove("--bare")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    # Data-dependent twins (ivf centroids, drqa hashed vocab probe) learn
    # their inlined constants from this dir — set BEFORE oracle_sql() runs
    # so tri-scale sweeps regenerate per-sf models (round-5 task #4).
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    if bare:
        spark = bare_session()
    else:
        spark = get_spark("oracle-check", cores=16, shuffle_partitions=16,
                          extra={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    checked = 0
    for name, fn in qs.items():
        if only and not any(fnmatch.fnmatchcase(name, pat) for pat in only):
            continue
        checked += 1
        t0 = time.time()
        try:
            mine = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark query raised")
            traceback.print_exc()
            failures.append(name)
            continue
        if name not in oracles:
            print(f"     {name}: rows={len(mine)} (no oracle — rows-only check) [{time.time()-t0:.1f}s]")
            if len(mine) == 0:
                failures.append(name)
            continue
        try:
            theirs = con.sql(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: duckdb oracle raised")
            traceback.print_exc()
            failures.append(name)
            continue
        a, b = normalize(mine), normalize(theirs)
        status = "ok  "
        if list(a.columns) != list(b.columns):
            status = f"FAIL cols mine={list(a.columns)} oracle={list(b.columns)}"
        elif len(a) != len(b):
            status = f"FAIL rows mine={len(a)} oracle={len(b)}"
        else:
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, atol=1e-6)
            except AssertionError as e:
                status = "FAIL values: " + str(e).split("\n")[0]
                merged = a.compare(b) if a.shape == b.shape else None
                if merged is not None and not merged.empty:
                    print(merged.head(5))
        print(f"{status} {name}: rows={len(a)} [{time.time()-t0:.1f}s]")
        if status != "ok  ":
            failures.append(name)
    mode = " (bare session)" if bare else ""
    print("\n" + (f"ALL OK {checked}/{checked}{mode}" if not failures
                  else f"FAILURES{mode} {len(failures)}/{checked}: {failures}"))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
