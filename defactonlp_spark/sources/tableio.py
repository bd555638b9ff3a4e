"""TableIO — minimal Iceberg-style table abstraction (SURVEY.md §4.3).

Production backend is Apache Iceberg (``spark.read.format("iceberg")`` /
``df.writeTo(tbl).append()``); the sandbox has no Iceberg runtime jar and no
network, so the ``localparquet`` backend provides an honest miniature of the
same metadata model:

- a table is a directory of parquet data files plus ``metadata/`` holding
  numbered snapshot JSONs (``v00000001.json`` ...) and a ``VERSION_HINT``
  pointer, both committed via atomic rename (os.replace),
- each snapshot records: snapshot_id, parent_id, operation, the full data
  file list, row counts, free-form properties (build lineage lives here) and
  the table schema (as the Delta Lake log does), taken at commit from the
  Spark schema the written parquet footers carry,
- readers resolve the current snapshot and read exactly its file list, so a
  concurrent writer can never expose a half-written table; they pass the
  recorded schema to the reader, so reading a committed table starts no
  Spark job (an inferring parquet read runs one to open a footer).

This gives the engine the three Iceberg properties the north rule leans on:
snapshot isolation for resumable builds, lineage (input_snapshot recorded in
checkpoints/metrics), and append-only segment generations for merge.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: parquet footer key under which Spark stores a written frame's schema; an
#: inferring read takes its data columns from here (ParquetFileFormat)
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


@dataclass
class Snapshot:
    snapshot_id: str
    parent_id: str | None
    operation: str
    files: list[str]
    total_rows: int
    properties: dict = field(default_factory=dict)
    version: int = 0
    #: per-append immutable write directories (the unit of read for
    #: partitioned tables — each holds a complete hive layout
    #: ``<dir>/<col>=<val>/part-*.parquet`` written before the commit)
    dirs: list[str] = field(default_factory=list)
    #: hive partition columns (Iceberg: the partition spec); [] = unpartitioned
    partition_by: list[str] = field(default_factory=list)
    #: the schema an inferring read of this snapshot returns, as Spark
    #: StructType JSON (data columns, then partition columns; every field
    #: nullable). None when it cannot be stated exactly — snapshots written
    #: before the field existed, partition values that are not all integers,
    #: or appends whose files disagree — and the read then infers it.
    schema: dict | None = None

    def to_json(self) -> dict:
        return self.__dict__.copy()

    @classmethod
    def load(cls, path: str) -> "Snapshot":
        """Read one snapshot JSON. Keys this version does not know are
        ignored and missing ones take their defaults, so snapshots written
        by older and newer versions of this class both load."""
        with open(path) as f:
            d = json.load(f)
        return cls(**{k: v for k, v in d.items() if k in cls.__dataclass_fields__})


def _as_nullable(dt: T.DataType) -> T.DataType:
    """Spark's ``DataType.asNullable``: every field, element and map value
    nullable, as a file-source read reports its data columns."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _partition_type(values: set[str]) -> T.DataType | None:
    """The type Spark's partition inference gives a column with these
    directory values when they are all integers (int if every value fits
    32 bits, else long); None for anything else, which then stays inferred."""
    if not values or not all(re.fullmatch(r"[+-]?[0-9]+", v) for v in values):
        return None
    ints = [int(v) for v in values]
    if all(-(2**31) <= i < 2**31 for i in ints):
        return T.IntegerType()
    if all(-(2**63) <= i < 2**63 for i in ints):
        return T.LongType()
    return None


def _files_schema(root: str, files: list[str], metas: list, partition_by: list[str]) -> dict | None:
    """Schema JSON an inferring ``spark.read.parquet`` of ``files`` (hive
    layout under ``root`` when ``partition_by``) returns, from their footer
    ``metas`` alone; None when the files disagree or a column cannot be
    stated."""
    keys = {(m.metadata or {}).get(_SPARK_SCHEMA_KEY) for m in metas}
    if len(keys) != 1 or None in keys:
        return None
    data = _as_nullable(T.StructType.fromJson(json.loads(keys.pop())))
    fields = [f for f in data.fields if f.name not in partition_by]
    for col in partition_by:
        values = set()
        for f in files:
            for part in os.path.relpath(f, root).split(os.sep)[:-1]:
                name, _, value = part.partition("=")
                if name == col:
                    values.add(value)
        dt = _partition_type(values)
        if dt is None:
            return None
        fields.append(T.StructField(col, dt, True))
    return T.StructType(fields).jsonValue()


class LocalTable:
    """One table = one directory. Thread-unsafe by design (single driver)."""

    def __init__(self, path: str):
        self.path = path
        self.meta_dir = os.path.join(path, "metadata")
        self.data_dir = os.path.join(path, "data")

    # -- metadata ---------------------------------------------------------
    def _hint_path(self) -> str:
        return os.path.join(self.meta_dir, "VERSION_HINT")

    def current_version(self) -> int:
        try:
            with open(self._hint_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def current_snapshot(self) -> Snapshot | None:
        v = self.current_version()
        if v == 0:
            return None
        return Snapshot.load(os.path.join(self.meta_dir, f"v{v:08d}.json"))

    def snapshots(self) -> list["Snapshot"]:
        """All committed snapshots, oldest first (the Iceberg `snapshots`
        metadata table) — per-commit properties are how composed stats
        (e.g. streamed generation n_docs/total_tokens) are recovered
        without re-reading data."""
        out = []
        for v in range(1, self.current_version() + 1):
            out.append(Snapshot.load(os.path.join(self.meta_dir, f"v{v:08d}.json")))
        return out

    def _commit(self, snap: Snapshot) -> Snapshot:
        os.makedirs(self.meta_dir, exist_ok=True)
        v = self.current_version() + 1
        snap.version = v
        final = os.path.join(self.meta_dir, f"v{v:08d}.json")
        tmp = final + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(snap.to_json(), f, indent=1)
        os.replace(tmp, final)
        tmp_hint = self._hint_path() + f".tmp.{uuid.uuid4().hex}"
        with open(tmp_hint, "w") as f:
            f.write(str(v))
        os.replace(tmp_hint, self._hint_path())
        return snap

    # -- data -------------------------------------------------------------
    def _write_files(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> tuple[str, list[str], int, dict | None]:
        part = os.path.join(self.data_dir, f"part-{uuid.uuid4().hex}")
        writer = df.write.mode("overwrite")
        if partition_by:
            # hive layout <part>/<col>=<val>/...: parquet files under value
            # dirs, so a reader filtering on the partition column prunes at
            # the FILE level (PartitionFilters) before row-group stats apply
            writer = writer.partitionBy(*partition_by)
        writer.parquet(part)
        files = sorted(
            os.path.join(dp, fn)
            for dp, _, fns in os.walk(part)
            for fn in fns
            if fn.endswith(".parquet")
        )
        # row count from the WRITTEN files' parquet footers — `df.count()`
        # here would re-execute the producing plan (for segment appends that
        # is the whole salt+shuffle+encode pipeline, doubling the build)
        metas = [pq.ParquetFile(f).metadata for f in files]
        rows = sum(m.num_rows for m in metas)
        schema = _files_schema(part, files, metas, list(partition_by or [])) if files else None
        return part, files, rows, schema

    def overwrite(
        self,
        df: DataFrame,
        properties: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> Snapshot:
        part, files, rows, schema = self._write_files(df, partition_by)
        parent = self.current_snapshot()
        return self._commit(
            Snapshot(
                snapshot_id=uuid.uuid4().hex,
                parent_id=parent.snapshot_id if parent else None,
                operation="overwrite",
                files=files,
                total_rows=rows,
                properties=dict(properties or {}, committed_at=time.time()),
                dirs=[part],
                partition_by=list(partition_by or []),
                schema=schema,
            )
        )

    def append(
        self,
        df: DataFrame,
        properties: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> Snapshot:
        parent = self.current_snapshot()
        if parent is not None and list(partition_by or []) != parent.partition_by:
            raise ValueError(
                f"append partition_by {partition_by} != table spec {parent.partition_by}"
            )
        part, files, rows, schema = self._write_files(df, partition_by)
        prev_files = parent.files if parent else []
        prev_rows = parent.total_rows if parent else 0
        if parent is not None and parent.files:
            # one schema must describe every file; a write that added no
            # file keeps the parent's
            if not files:
                schema = parent.schema
            elif parent.schema != schema:
                schema = None
        return self._commit(
            Snapshot(
                snapshot_id=uuid.uuid4().hex,
                parent_id=parent.snapshot_id if parent else None,
                operation="append",
                files=prev_files + files,
                total_rows=prev_rows + rows,
                properties=dict(properties or {}, committed_at=time.time()),
                dirs=(parent.dirs if parent else []) + [part],
                partition_by=list(partition_by or []),
                schema=schema,
            )
        )

    def upsert(
        self,
        spark: SparkSession,
        df: DataFrame,
        key_cols: list[str],
        properties: dict | None = None,
    ) -> Snapshot:
        """MERGE INTO analog (Iceberg copy-on-write): rows of ``df`` replace
        current rows with the same key; everything else carries over. The
        survivor set is one anti-join (current LEFT ANTI incoming on the
        key) unioned with the incoming rows, written as a fresh immutable
        snapshot — old versions stay readable (time travel), exactly like
        overwrite/append. Copy-on-write is the right trade for this
        engine's read-heavy tables (manifest/metrics/doc-store); a
        merge-on-read deployment swaps in Iceberg's positional deletes via
        the IcebergTable shim with the same call shape.

        Empty tables degrade to a plain overwrite of ``df``.
        """
        from pyspark.sql import functions as F

        parent = self.current_snapshot()
        if parent is None:
            return self.overwrite(df, properties=properties)
        if parent.partition_by:
            raise NotImplementedError(
                "upsert on a partitioned table: rewrite via overwrite(partition_by=...)"
            )
        current = self.read(spark)
        # no broadcast hint: CDC batches are usually tiny (AQE broadcasts
        # them), but a backfill-sized df must not be forced driver-side
        survivors = current.join(df.select(*key_cols).distinct(), key_cols, "left_anti")
        merged = survivors.unionByName(df.select(*current.columns))
        part, files, rows, schema = self._write_files(merged)
        return self._commit(
            Snapshot(
                snapshot_id=uuid.uuid4().hex,
                parent_id=parent.snapshot_id,
                operation="upsert",
                files=files,
                total_rows=rows,
                properties=dict(properties or {}, committed_at=time.time()),
                dirs=[part],
                partition_by=[],
                schema=schema,
            )
        )

    def snapshot_diff(
        self,
        spark: SparkSession,
        v_old: int,
        v_new: int,
        key_cols: list[str],
    ) -> DataFrame:
        """Changed-data view between two snapshots (the Iceberg
        changelog/CDC shape): one row per key whose row set differs, with
        ``change`` in ('added', 'removed', 'updated'). Pure relational —
        full-outer join of the two versions' key sets plus an exceptAll
        row-identity check for updates; both versions are immutable file
        lists, so the diff is reproducible forever.
        """
        from pyspark.sql import functions as F

        old_df, new_df = self.read(spark, v_old), self.read(spark, v_new)
        ok = old_df.select(*key_cols).distinct().withColumn("_o", F.lit(1))
        nk = new_df.select(*key_cols).distinct().withColumn("_n", F.lit(1))
        keys = ok.join(nk, key_cols, "full_outer")
        added = keys.filter(F.col("_o").isNull()).select(
            *key_cols, F.lit("added").alias("change")
        )
        removed = keys.filter(F.col("_n").isNull()).select(
            *key_cols, F.lit("removed").alias("change")
        )
        # updated: key present in both but the full row changed
        common = keys.filter(F.col("_o").isNotNull() & F.col("_n").isNotNull()).select(*key_cols)
        changed_rows = new_df.join(common, key_cols, "left_semi").exceptAll(
            old_df.join(common, key_cols, "left_semi")
        )
        updated = changed_rows.select(*key_cols).distinct().select(
            *key_cols, F.lit("updated").alias("change")
        )
        return added.unionByName(removed).unionByName(updated)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Read the current (or a time-travel ``version``) snapshot.

        Partitioned snapshots are read by their immutable write DIRECTORIES
        (hive partition discovery recovers the partition column and gives
        file-level pruning); every dir was fully written before its commit,
        and orphan dirs from failed appends are never referenced by a
        snapshot, so dir reads keep snapshot isolation. Unpartitioned
        snapshots read the exact file list.

        The snapshot's recorded schema is handed to the reader, so no job
        opens a footer to infer it; listing stays on the driver while a read
        has at most ``spark.sql.sources.parallelPartitionDiscovery.threshold``
        (32) paths to list at one level — past that Spark lists with a job.
        Snapshots without a recorded schema are read by inference.
        """
        if version is None:
            snap = self.current_snapshot()
        else:
            snap = Snapshot.load(os.path.join(self.meta_dir, f"v{version:08d}.json"))
        if snap is None or not snap.files:
            raise FileNotFoundError(f"table {self.path} has no committed snapshot")
        if snap.partition_by:
            # one read per write-dir, unioned: Spark refuses multiple
            # partitioned roots in a single read (CONFLICTING_DIRECTORY_
            # STRUCTURES); a union of per-root reads keeps PartitionFilters
            # on every branch and the dir count == append count (small)
            from functools import reduce

            parts = [self._reader(spark, snap).parquet(d) for d in snap.dirs]
            return reduce(lambda a, b: a.unionByName(b), parts)
        return self._reader(spark, snap).parquet(*snap.files)

    @staticmethod
    def _reader(spark: SparkSession, snap: Snapshot):
        if snap.schema is None:
            return spark.read
        return spark.read.schema(T.StructType.fromJson(snap.schema))

    def exists(self) -> bool:
        return self.current_version() > 0


#: session config a production deployment sets for the `iceberg` backend
#: (documented here so ops can lift it verbatim; values are the standard
#: public Iceberg-on-Spark catalog wiring)
ICEBERG_SESSION_CONF = {
    "spark.sql.catalog.lake": "org.apache.iceberg.spark.SparkCatalog",
    "spark.sql.catalog.lake.type": "hadoop",  # or hive / rest
    "spark.sql.catalog.lake.warehouse": "<warehouse-uri>",
    "spark.sql.extensions": (
        "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
    ),
}


class IcebergTable:
    """Production backend: Apache Iceberg through the public Spark DSv2
    surface (SURVEY.md §4.3). The sandbox ships no iceberg-spark-runtime
    jar, so this class is a THIN shim with no logic of its own — every
    method lowers directly onto the documented Iceberg write/read API, and
    the exact call shapes are pinned by mocked unit tests
    (tests/test_tableio.py::TestIcebergShim). Swapping LocalTable for
    IcebergTable is the only change a cluster deployment needs; snapshot
    semantics (isolation, lineage properties, time travel) are what
    LocalTable miniaturizes.
    """

    def __init__(self, identifier: str):
        #: catalog-qualified table name, e.g. "lake.search.segments"
        self.identifier = identifier

    @staticmethod
    def _with_props(writer, properties: dict | None):
        # snapshot-level lineage: Iceberg records write options named
        # `snapshot-property.<key>` into the commit's snapshot summary —
        # the exact analog of LocalTable's Snapshot.properties
        for k, v in (properties or {}).items():
            writer = writer.option(f"snapshot-property.{k}", str(v))
        return writer

    def append(
        self,
        df: DataFrame,
        properties: dict | None = None,
        partition_by: list[str] | None = None,
    ):
        # Iceberg's partition spec is table metadata fixed at creation;
        # appends route rows into the existing spec, so partition_by is
        # accepted only for LocalTable API parity
        self._with_props(df.writeTo(self.identifier), properties).append()

    def overwrite(
        self,
        df: DataFrame,
        properties: dict | None = None,
        partition_by: list[str] | None = None,
    ):
        writer = df.writeTo(self.identifier).using("iceberg")
        if partition_by:
            from pyspark.sql.functions import col

            writer = writer.partitionedBy(*[col(c) for c in partition_by])
        self._with_props(writer, properties).createOrReplace()

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Current table state, or time travel to a snapshot id."""
        reader = spark.read
        if version is not None:
            reader = reader.option("snapshot-id", str(version))
        return reader.table(self.identifier)

    def exists(self, spark: SparkSession) -> bool:
        return spark.catalog.tableExists(self.identifier)

    def snapshots(self, spark: SparkSession) -> DataFrame:
        """The Iceberg `.snapshots` metadata table (lineage audit)."""
        return spark.read.table(f"{self.identifier}.snapshots")


def make_table(location: str, backend: str = "localparquet"):
    """Factory the build/query plans use: `localparquet` (sandbox) or
    `iceberg` (production; `location` is then a catalog identifier)."""
    if backend == "localparquet":
        return LocalTable(location)
    if backend == "iceberg":
        return IcebergTable(location)
    raise ValueError(f"unknown TableIO backend: {backend}")
