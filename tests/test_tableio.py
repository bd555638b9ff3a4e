"""TableIO: the Iceberg shim's API shape under mocks (the runtime jar is
absent in-sandbox — the shim must lower EXACTLY onto the public Iceberg
Spark DSv2 surface so a cluster deployment is a drop-in) and the factory."""

from unittest import mock

import pytest

from defactonlp_spark.sources.tableio import IcebergTable, LocalTable, make_table


class _Recorder:
    """Chainable stub that records every (method, args) call."""

    def __init__(self, log, name=""):
        self.log, self.name = log, name

    def __getattr__(self, attr):
        def call(*args, **kw):
            self.log.append((f"{self.name}{attr}", args, kw))
            return _Recorder(self.log, self.name)

        return call


def test_factory():
    assert isinstance(make_table("/tmp/t", "localparquet"), LocalTable)
    t = make_table("lake.search.segments", "iceberg")
    assert isinstance(t, IcebergTable) and t.identifier == "lake.search.segments"
    with pytest.raises(ValueError):
        make_table("x", "deltalake")


class TestIcebergShim:
    def test_append_with_snapshot_properties(self):
        log = []
        df = mock.Mock()
        df.writeTo.return_value = _Recorder(log)
        IcebergTable("lake.db.seg").append(df, properties={"build_id": "b1", "buckets": [0, 1]})
        df.writeTo.assert_called_once_with("lake.db.seg")
        assert ("option", ("snapshot-property.build_id", "b1"), {}) in log
        assert ("option", ("snapshot-property.buckets", "[0, 1]"), {}) in log
        assert log[-1] == ("append", (), {})

    def test_overwrite_uses_create_or_replace(self):
        log = []
        df = mock.Mock()
        df.writeTo.return_value = _Recorder(log)
        IcebergTable("lake.db.manifest").overwrite(df, properties={"n_docs": 5})
        assert log[0] == ("using", ("iceberg",), {})
        assert ("option", ("snapshot-property.n_docs", "5"), {}) in log
        assert log[-1] == ("createOrReplace", (), {})

    def test_read_and_time_travel(self):
        spark = mock.Mock()
        t = IcebergTable("lake.db.seg")
        t.read(spark)
        spark.read.table.assert_called_once_with("lake.db.seg")
        t.read(spark, version=12345)
        spark.read.option.assert_called_once_with("snapshot-id", "12345")
        spark.read.option.return_value.table.assert_called_once_with("lake.db.seg")

    def test_exists_and_snapshots(self):
        spark = mock.Mock()
        t = IcebergTable("lake.db.seg")
        t.exists(spark)
        spark.catalog.tableExists.assert_called_once_with("lake.db.seg")
        t.snapshots(spark)
        spark.read.table.assert_called_once_with("lake.db.seg.snapshots")


def test_local_partitioned_append_read(spark, tmp_path):
    """Partitioned appends: hive layout on disk, partition column recovered
    on read, file-level PartitionFilters in the scan, spec pinned across
    appends."""
    import os

    from pyspark.sql import functions as F

    t = LocalTable(str(tmp_path / "t"))
    df1 = spark.createDataFrame([(1, 0, "a"), (2, 1, "b")], "id long, bucket int, v string")
    df2 = spark.createDataFrame([(3, 0, "c")], "id long, bucket int, v string")
    t.append(df1, partition_by=["bucket"])
    t.append(df2, partition_by=["bucket"])
    snap = t.current_snapshot()
    assert snap.partition_by == ["bucket"] and len(snap.dirs) == 2
    assert any("bucket=0" in f for f in snap.files)
    got = t.read(spark)
    assert sorted(r["id"] for r in got.collect()) == [1, 2, 3]
    assert dict(got.dtypes)["bucket"] == "int"
    # partition pruning reaches the scan
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        got.filter(F.col("bucket") == 0).explain("formatted")
    assert "PartitionFilters: [" in buf.getvalue()
    # spec mismatch is refused
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.append(df2)


def test_upsert_replaces_by_key_and_time_travels(spark, tmp_path):
    from defactonlp_spark.sources.tableio import LocalTable

    t = LocalTable(str(tmp_path / "docs"))
    t.overwrite(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"))
    snap = t.upsert(
        spark,
        spark.createDataFrame([(2, "B2"), (4, "d")], "doc_id long, text string"),
        key_cols=["doc_id"],
    )
    assert snap.operation == "upsert" and snap.parent_id is not None
    now = {r["doc_id"]: r["text"] for r in t.read(spark).collect()}
    assert now == {1: "a", 2: "B2", 3: "c", 4: "d"}
    # time travel: version 1 still reads the pre-upsert rows
    old = {r["doc_id"]: r["text"] for r in t.read(spark, version=1).collect()}
    assert old == {1: "a", 2: "b", 3: "c"}


def test_upsert_on_empty_table_is_overwrite(spark, tmp_path):
    from defactonlp_spark.sources.tableio import LocalTable

    t = LocalTable(str(tmp_path / "fresh"))
    snap = t.upsert(
        spark, spark.createDataFrame([(1, "x")], "doc_id long, text string"),
        key_cols=["doc_id"],
    )
    assert snap.operation == "overwrite"
    assert t.read(spark).count() == 1


def test_snapshot_diff_add_remove_update(spark, tmp_path):
    from defactonlp_spark.sources.tableio import LocalTable

    t = LocalTable(str(tmp_path / "cdc"))
    t.overwrite(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"))
    # v2: 2 updated, 3 removed, 4 added (1 untouched)
    t.overwrite(spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "doc_id long, text string"))
    diff = {
        (r["doc_id"], r["change"])
        for r in t.snapshot_diff(spark, 1, 2, ["doc_id"]).collect()
    }
    assert diff == {(4, "added"), (3, "removed"), (2, "updated")}


def _read_jobs(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    import uuid

    sc = spark.sparkContext
    group = f"read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _inferred(spark, snap):
    """The snapshot read the way it was before schemas were recorded."""
    from dataclasses import replace

    return LocalTable._reader(spark, replace(snap, schema=None))


def test_stored_schema_reads_exactly_like_inference(spark, tmp_path):
    """Every table a build writes reads with its recorded schema — no job —
    into exactly the schema and rows an inferring read returns."""
    import os
    from functools import reduce

    from defactonlp_spark.config import EngineConfig
    from defactonlp_spark.plans.build import IndexBuild, delete_docs, prepare_webpages
    from defactonlp_spark.sources.fixtures import gen_webpages

    out = str(tmp_path / "idx")
    pages = spark.createDataFrame(gen_webpages(n=120, seed=31))
    IndexBuild(out, EngineConfig(), build_id="schema", store_tokens=True).run(
        spark, prepare_webpages(pages), input_snapshot="fixture:120"
    )
    delete_docs(spark, out, spark.createDataFrame([(1,), (2,)], "doc_id long"))
    for name in ("segments", "tokens", "checkpoints", "metrics", "manifest", "deletes"):
        t = LocalTable(os.path.join(out, name))
        snap = t.current_snapshot()
        assert snap.schema is not None, name
        got, n_jobs = _read_jobs(spark, lambda: t.read(spark))
        assert n_jobs == 0, name
        inf = _inferred(spark, snap)
        if snap.partition_by:
            want = reduce(lambda a, b: a.unionByName(b), [inf.parquet(d) for d in snap.dirs])
        else:
            want = inf.parquet(*snap.files)
        assert got.schema == want.schema, name
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect())), name
    # the default 32 buckets stay within Spark's driver-side listing limit
    assert len({f.split("bucket=")[1].split("/")[0] for f in
                LocalTable(os.path.join(out, "segments")).current_snapshot().files}) <= 32


def test_snapshot_without_schema_still_reads(spark, tmp_path):
    """Snapshot JSON from before the schema field (or with it dropped)
    loads and reads by inference; a later append keeps inferring."""
    import json
    import os

    t = LocalTable(str(tmp_path / "old"))
    df = spark.createDataFrame([(1, 0, "a"), (2, 1, "b")], "id long, bucket int, v string")
    t.append(df, partition_by=["bucket"])
    want = t.read(spark)
    path = os.path.join(t.meta_dir, f"v{t.current_version():08d}.json")
    with open(path) as f:
        d = json.load(f)
    d.pop("schema")
    d["written_by_a_newer_version"] = True
    with open(path, "w") as f:
        json.dump(d, f)
    assert t.current_snapshot().schema is None
    got, n_jobs = _read_jobs(spark, lambda: t.read(spark))
    assert n_jobs >= 1  # inference opens a footer
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    snap = t.append(df, partition_by=["bucket"])
    assert snap.schema is None
    assert t.read(spark).count() == 4


def test_schema_is_left_to_inference_when_it_cannot_be_stated(spark, tmp_path):
    """A non-integer partition value, or an append whose files disagree
    with the table's, records no schema."""
    t = LocalTable(str(tmp_path / "strpart"))
    t.overwrite(spark.createDataFrame([(1, "x")], "id long, lang string"), partition_by=["lang"])
    assert t.current_snapshot().schema is None
    assert dict(t.read(spark).dtypes) == {"id": "bigint", "lang": "string"}

    u = LocalTable(str(tmp_path / "drift"))
    u.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    assert u.current_snapshot().schema is not None
    u.append(spark.createDataFrame([(2, "b")], "id int, v string"))
    assert u.current_snapshot().schema is None
