"""Snapshot-versioned tables + resumable multi-stage jobs.

The design is Iceberg's (immutable data files + a versioned manifest whose
atomic swap is the commit; snapshot id = the version guard of the
reference's binary caches, graph.rs:58-107), implemented over plain parquet
because this environment ships no Iceberg runtime jars. On a real cluster
the same API maps 1:1 onto Iceberg tables:
  write_snapshot  -> append/overwrite commit  (new snapshot id)
  read_snapshot   -> time-travel read by snapshot id
  Pipeline.stage  -> resume-from-checkpoint: a stage keyed by
                     (name, input snapshot ids) that already committed is
                     NOT recomputed — the job-granularity analog of the
                     matcher's Continuation::reconcile (continuation.rs:32-57).

Every commit records per-partition lineage + metrics rows (north rule).
Like an Iceberg commit, it takes them from what the writer produced: each
new data file's parquet footer gives the row count of every row group and
the min/max of its ``_pid`` (Spark partition id) column, and Spark's row
metadata footer key gives the schema. Only when a footer cannot answer (no
``_pid`` statistics, or more than one partition in a row group) does the
commit read its files back and count with a Spark job. A read takes its
schema from the manifest, so it infers nothing and never scans ``_pid``.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

# the footer key under which Spark stores a parquet file's row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _manifest_dir(root: str, table: str) -> str:
    return os.path.join(root, table, "_snapshots")


def _latest_version(root: str, table: str) -> int:
    d = _manifest_dir(root, table)
    if not os.path.isdir(d):
        return 0
    versions = [int(f[1:-5]) for f in os.listdir(d)
                if f.startswith("v") and f.endswith(".json")]
    return max(versions, default=0)


def _data_files(data_dir: str) -> list[str]:
    """The data files of a written directory: Spark's hidden-file rule
    skips names starting with ``_`` or ``.`` (``_SUCCESS``, ``.crc``)."""
    return sorted(os.path.join(data_dir, f) for f in os.listdir(data_dir)
                  if not f.startswith(("_", ".")))


def footer_partition_rows(paths: list[str]) -> dict[int, int] | None:
    """Rows per ``_pid`` summed over every non-empty row group of the
    parquet files ``paths``, from their footers alone. None when a footer
    cannot say: ``_pid`` missing, without min/max or null-count
    statistics, with nulls, or with more than one value in a row group."""
    rows: dict[int, int] = {}
    for path in paths:
        meta = pq.read_metadata(path)
        try:
            col = meta.schema.names.index("_pid")
        except ValueError:
            return None
        for i in range(meta.num_row_groups):
            rg = meta.row_group(i)
            if rg.num_rows == 0:
                continue
            st = rg.column(col).statistics
            if (st is None or not st.has_min_max or not st.has_null_count
                    or st.null_count or st.min != st.max):
                return None
            rows[st.min] = rows.get(st.min, 0) + rg.num_rows
    return rows


def _as_nullable(t: DataType) -> DataType:
    """``t`` as a file source reads it back (Scala's ``asNullable``):
    every field, array element and map value nullable."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _as_nullable(f.dataType),
                                       True, f.metadata) for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType),
                       True)
    return t


def footer_schema(path: str) -> StructType | None:
    """The schema Spark reads back from the Spark-written parquet file
    ``path``, minus ``_pid``; None when the footer has no Spark schema."""
    raw = (pq.read_metadata(path).metadata or {}).get(_SPARK_SCHEMA_KEY)
    if raw is None:
        return None
    schema = _as_nullable(StructType.fromJson(json.loads(raw)))
    return StructType([f for f in schema.fields if f.name != "_pid"])


def write_snapshot(df: DataFrame, root: str, table: str,
                   stage: str = "", inputs: list[str] | None = None) -> str:
    """Commit df as a new snapshot of ``table``. Data files are written to a
    unique directory first; the manifest write is the atomic commit point
    (os.rename), so a crash mid-write leaves the previous snapshot intact.
    Lineage and schema come from the new files' footers (one Spark job,
    the write), or from a read-back recount when a footer cannot say."""
    snap_uuid = uuid.uuid4().hex[:12]
    data_dir = os.path.join(root, table, "data", snap_uuid)
    t0 = time.perf_counter()
    with_pid = df.withColumn("_pid", F.spark_partition_id())
    with_pid.write.mode("overwrite").parquet(data_dir)
    wall_ms = int((time.perf_counter() - t0) * 1000)

    files = _data_files(data_dir)
    part_rows = footer_partition_rows(files)
    schema = footer_schema(files[0]) if files else None
    if part_rows is None or schema is None:
        committed = df.sparkSession.read.parquet(data_dir)
        part_rows = {int(r["_pid"]): int(r["count"]) for r in
                     committed.groupBy("_pid").count().collect()}
        schema = committed.drop("_pid").schema
    n_rows = sum(part_rows.values())

    # rows_in = total rows of the committed input snapshots (resolved from
    # their manifests; snapshot ids are "<table>-v<version>-<uuid>")
    rows_in = 0
    for sid in inputs or []:
        try:
            t, v = sid.rsplit("-", 2)[:2]
            rows_in += read_manifest(root, t, int(v[1:]))["rows"]
        except (ValueError, FileNotFoundError, KeyError):
            pass  # foreign/raw input — not a snapshot of this warehouse

    version = _latest_version(root, table) + 1
    snapshot_id = f"{table}-v{version}-{snap_uuid}"
    manifest = {
        "snapshot_id": snapshot_id,
        "version": version,
        "table": table,
        "data_dir": data_dir,
        "rows": n_rows,
        # snapshot-scoped input total, stored ONCE at manifest level —
        # summing a per-partition copy across lineage rows would overcount
        # input rows by the partition count
        "rows_in": rows_in,
        "schema": schema.json(),
        "stage": stage,
        "inputs": inputs or [],
        "lineage": [
            {"partition_id": pid, "stage": stage,
             "rows_out": part_rows[pid],
             "wall_ms": wall_ms, "input_snapshot_ids": inputs or []}
            for pid in sorted(part_rows)
        ],
    }
    mdir = _manifest_dir(root, table)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".tmp-{snap_uuid}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.rename(tmp, os.path.join(mdir, f"v{version}.json"))
    return snapshot_id


def read_manifest(root: str, table: str, version: int | None = None) -> dict:
    v = version if version is not None else _latest_version(root, table)
    if v == 0:
        raise FileNotFoundError(f"no snapshots for table {table!r}")
    with open(os.path.join(_manifest_dir(root, table), f"v{v}.json")) as f:
        return json.load(f)


def read_snapshot(spark: SparkSession, root: str, table: str,
                  version: int | None = None) -> DataFrame:
    """Snapshot ``version`` (default: the latest) of ``table``, read with
    the manifest's schema: no inference job, and ``_pid`` is not read."""
    m = read_manifest(root, table, version)
    schema = StructType.fromJson(json.loads(m["schema"]))
    return spark.read.schema(schema).parquet(m["data_dir"])


def lineage_rows(root: str, table: str) -> list[dict]:
    """All committed lineage rows across snapshots of a table."""
    out = []
    v = _latest_version(root, table)
    for i in range(1, v + 1):
        out.extend(read_manifest(root, table, i)["lineage"])
    return out


@dataclass
class StageResult:
    snapshot_id: str
    table: str
    recomputed: bool


class Pipeline:
    """Resumable multi-stage job. Each stage's identity is
    (stage name, input snapshot ids): if a snapshot of the stage's output
    table already committed with exactly those inputs, the stage is skipped
    and the committed snapshot is reused — the resume contract of the north
    rule. Kill the process between stages and rerun: completed stages never
    recompute."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _find_committed(self, table: str, stage: str,
                        inputs: list[str]) -> dict | None:
        v = _latest_version(self.root, table)
        for i in range(v, 0, -1):
            m = read_manifest(self.root, table, i)
            if m["stage"] == stage and m["inputs"] == inputs:
                return m
        return None

    def stage(self, name: str, table: str, build_fn,
              inputs: list[str] | None = None) -> StageResult:
        inputs = inputs or []
        hit = self._find_committed(table, name, inputs)
        if hit is not None:
            return StageResult(hit["snapshot_id"], table, recomputed=False)
        df = build_fn(self.spark)
        sid = write_snapshot(df, self.root, table, stage=name, inputs=inputs)
        return StageResult(sid, table, recomputed=True)

    def read(self, table: str, version: int | None = None) -> DataFrame:
        return read_snapshot(self.spark, self.root, table, version)
