"""The engine's Python daemon (defactonlp_spark/daemon.py) and the worker
settings ``get_spark`` makes.

1. In one process: the patched ``zipimporter.invalidate_caches`` does not
   re-read an unchanged archive, and does re-read a rewritten one, whose
   new module contents then import.
2. A Python task in a ``get_spark`` session runs under the patch.
3. A bare ``SparkSession`` (stock daemon, no tuned configs) returns the same
   ``query_wand`` rows as a ``get_spark`` session.
4. A worker that crashes in native code leaves its Python traceback in the
   raised error (faulthandler).
5. Python tasks of a ``get_spark`` session talk to the JVM over Unix domain
   sockets in ``/tmp``, also when ``java.io.tmpdir`` is too long to hold a
   socket path, and a stopped session leaves no socket file and no daemon or
   worker process behind.
"""

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from defactonlp_spark import daemon
from defactonlp_spark.config import EngineConfig
from defactonlp_spark.plans.build import IndexBuild, IndexReader, prepare_webpages
from defactonlp_spark.plans.query import query_wand
from defactonlp_spark.sources.fixtures import gen_claims, gen_webpages

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON_FILE = os.path.join("defactonlp_spark", "daemon.py")


def _write_zip(path, name: str, body: str) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr(f"{name}.py", body)
    os.replace(tmp, path)  # a rewrite gets a new inode, as a redeploy would


def test_patch_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    name = "zipmod_daemon_probe"
    _write_zip(archive, name, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, name, raising=False)
    # restore the stock functions whatever install() does
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    if not daemon.install():
        pytest.skip("zipimport lacks the eager 3.11 layout; stock behaviour kept")
    assert importlib.import_module(name).VALUE == 1

    stock_read = zipimport._read_directory
    reads = []

    def counted(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, name, "VALUE = 2  # rewritten, longer archive\n")
    importlib.invalidate_caches()
    assert len(reads) == 1
    del sys.modules[name]
    assert importlib.import_module(name).VALUE == 2
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_python_task_runs_under_engine_daemon(spark):
    def probe(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__code__.co_filename

    files = spark.sparkContext.parallelize(range(2), 2).mapPartitions(probe).collect()
    assert len(files) == 2
    assert all(f.endswith(DAEMON_FILE) for f in files), files


BARE_SCRIPT = textwrap.dedent(
    """
    import json, sys
    import pandas as pd
    from pyspark.sql import SparkSession
    from defactonlp_spark.config import EngineConfig
    from defactonlp_spark.plans.build import IndexReader
    from defactonlp_spark.plans.query import query_wand

    idx, claims_json, k = sys.argv[1], sys.argv[2], int(sys.argv[3])
    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def probe(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__code__.co_filename

    files = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    claims = spark.createDataFrame(pd.read_json(claims_json, orient="records"))
    rows = query_wand(IndexReader(spark, idx), claims, k=k, cfg=EngineConfig(n_buckets=4))
    out = sorted(tuple(r) for r in rows.collect())
    print(json.dumps({"files": files, "rows": out}))
    spark.stop()
    """
)


def test_bare_session_matches_engine_session(spark, tmp_path):
    cfg = EngineConfig(n_buckets=4)
    idx = str(tmp_path / "idx")
    pages = spark.createDataFrame(gen_webpages(n=200, seed=31))
    IndexBuild(idx, cfg, build_id="bare").run(
        spark, prepare_webpages(pages), input_snapshot="fixture:200"
    )
    claims_pdf = gen_claims(n=12)[["claim_id", "claim"]]
    claims_json = str(tmp_path / "claims.json")
    claims_pdf.to_json(claims_json, orient="records")
    ours = query_wand(IndexReader(spark, idx), spark.createDataFrame(claims_pdf), k=5, cfg=cfg)
    want = sorted(tuple(r) for r in ours.collect())
    assert want

    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    ))
    proc = subprocess.run(
        [sys.executable, "-c", BARE_SCRIPT, idx, claims_json, "5"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert not any(f.endswith(DAEMON_FILE) for f in got["files"]), got["files"]
    assert [tuple(r) for r in got["rows"]] == want


def test_worker_crash_carries_python_traceback(spark):
    def crash_in_native_code(x):
        import ctypes
        import resource

        resource.setrlimit(resource.RLIMIT_CORE, (0, 0))  # no core file
        return len(ctypes.string_at(0)) + x

    crash = F.udf(crash_in_native_code, "long")
    with pytest.raises(Exception) as err:
        spark.range(1).select(crash("id")).collect()
    msg = str(err.value)
    assert "Fatal Python error" in msg, msg[-2000:]
    assert "crash_in_native_code" in msg, msg[-2000:]
    # the daemon forks a fresh worker: the session keeps serving Python tasks
    assert spark.range(3).select(F.udf(lambda x: x + 1, "long")("id")).count() == 3


def test_python_task_runs_over_unix_domain_socket(spark):
    def probe(_):
        import os

        yield (os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "").lower(),
               os.environ.get("PYTHON_WORKER_FACTORY_SOCK_DIR"))

    got = spark.sparkContext.parallelize(range(2), 2).mapPartitions(probe).collect()
    assert got == [("true", "/tmp")] * 2, got


UDS_SCRIPT = textwrap.dedent(
    """
    import glob, json, os, sys, time
    import pandas as pd
    from defactonlp_spark.session import get_spark

    tmpdir = sys.argv[1]
    socks = lambda: set(glob.glob("/tmp/.*.sock"))
    before = socks()
    spark = get_spark("uds", cores=2, shuffle_partitions=2, extra={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmpdir}",
        "spark.local.dir": tmpdir,
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    jvm_tmpdir = spark.sparkContext._jvm.java.lang.System.getProperty("java.io.tmpdir")

    def pids(batches):
        for pdf in batches:
            yield pd.DataFrame({"id": pdf["id"], "worker": os.getpid(), "daemon": os.getppid()})

    rows = spark.range(4).repartition(2).mapInPandas(
        pids, "id long, worker long, daemon long").toPandas()
    made = socks() - before
    spark.stop()

    def alive(pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except FileNotFoundError:
            return False

    procs = set(rows["worker"]) | set(rows["daemon"])
    deadline = time.time() + 30
    while time.time() < deadline and (made & socks() or any(alive(p) for p in procs)):
        time.sleep(0.2)
    print(json.dumps({
        "jvm_tmpdir": jvm_tmpdir,
        "ids": sorted(int(i) for i in rows["id"]),
        "made": sorted(made),
        "left": sorted(made & socks()),
        "procs": sorted(int(p) for p in procs),
        "alive": sorted(int(p) for p in procs if alive(p)),
    }))
    """
)


@pytest.fixture(scope="module")
def uds_run(tmp_path_factory):
    """One ``get_spark`` session in a child process whose ``java.io.tmpdir``
    is longer than a Unix socket path can hold: it runs a ``mapInPandas``
    task and stops; the report lists the sockets it made in /tmp and the
    worker and daemon pids, as seen after ``stop()``."""
    tmpdir = str(tmp_path_factory.mktemp("uds")) + "/" + "a-deliberately-long-java-io-tmpdir" * 2
    os.makedirs(tmpdir)
    assert len(tmpdir) >= 70
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    ))
    proc = subprocess.run(
        [sys.executable, "-c", UDS_SCRIPT, tmpdir],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return tmpdir, json.loads(proc.stdout.strip().splitlines()[-1])


def test_long_java_tmpdir_still_runs_python_tasks(uds_run):
    tmpdir, got = uds_run
    assert got["jvm_tmpdir"] == tmpdir
    assert got["ids"] == [0, 1, 2, 3]
    # the sockets went to /tmp, not under the long tmpdir
    assert got["made"], got


def test_stopped_session_leaves_no_socket_or_python_process(uds_run):
    _, got = uds_run
    assert got["made"] and got["procs"], got
    assert got["left"] == [], got
    assert got["alive"] == [], got
    assert not any(os.path.exists(s) for s in got["made"])
