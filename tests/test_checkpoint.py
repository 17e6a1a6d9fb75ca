"""Resumability: kill-after-stage then rerun → committed stages are not
recomputed and outputs are identical (BASELINE.md resumability gate)."""

import pandas as pd
import pytest

from routers_spark.io.checkpoint import (
    Pipeline,
    lineage_rows,
    read_manifest,
    read_snapshot,
    write_snapshot,
)


def test_snapshot_roundtrip(spark, tmp_path):
    root = str(tmp_path)
    pdf = pd.DataFrame({"k": range(100), "v": [f"x{i}" for i in range(100)]})
    df = spark.createDataFrame(pdf).repartition(4)
    sid = write_snapshot(df, root, "t1", stage="ingest")
    assert sid.startswith("t1-v1-")
    back = read_snapshot(spark, root, "t1").toPandas().sort_values("k")
    assert list(back["k"]) == list(range(100))
    m = read_manifest(root, "t1")
    assert m["rows"] == 100
    # per-partition lineage rows present with the stage name
    lin = lineage_rows(root, "t1")
    assert sum(r["rows_out"] for r in lin) == 100
    assert all(r["stage"] == "ingest" for r in lin)
    assert len(lin) == 4


def test_snapshot_versions_accumulate(spark, tmp_path):
    root = str(tmp_path)
    df1 = spark.range(10).withColumnRenamed("id", "k")
    df2 = spark.range(20).withColumnRenamed("id", "k")
    write_snapshot(df1, root, "t", stage="a")
    write_snapshot(df2, root, "t", stage="b")
    # time travel: v1 still readable
    assert read_snapshot(spark, root, "t", version=1).count() == 10
    assert read_snapshot(spark, root, "t", version=2).count() == 20
    assert read_manifest(root, "t")["version"] == 2


def test_pipeline_resume_skips_committed_stages(spark, tmp_path):
    root = str(tmp_path)
    calls = {"a": 0, "b": 0}

    def build_a(s):
        calls["a"] += 1
        return s.range(50).withColumnRenamed("id", "k")

    def run_until(stage_limit):
        p = Pipeline(spark, root)
        ra = p.stage("stage_a", "tbl_a", build_a)
        if stage_limit == 1:
            return ra, None
        def build_b(s):
            calls["b"] += 1
            a = p.read("tbl_a")
            return a.selectExpr("k", "k * 2 AS doubled")
        rb = p.stage("stage_b", "tbl_b", build_b, inputs=[ra.snapshot_id])
        return ra, rb

    # first run "crashes" after stage a
    ra1, _ = run_until(1)
    assert ra1.recomputed and calls == {"a": 1, "b": 0}
    # rerun the whole job: stage a is NOT recomputed, b runs once
    ra2, rb2 = run_until(2)
    assert not ra2.recomputed
    assert ra2.snapshot_id == ra1.snapshot_id
    assert rb2.recomputed
    assert calls == {"a": 1, "b": 1}
    # a third full run recomputes nothing
    ra3, rb3 = run_until(2)
    assert not ra3.recomputed and not rb3.recomputed
    assert calls == {"a": 1, "b": 1}
    out = read_snapshot(spark, root, "tbl_b").toPandas().sort_values("k")
    assert list(out["doubled"]) == [2 * k for k in range(50)]


def test_changed_input_triggers_recompute(spark, tmp_path):
    root = str(tmp_path)
    p = Pipeline(spark, root)
    ra = p.stage("a", "ta", lambda s: s.range(5))
    rb1 = p.stage("b", "tb", lambda s: p.read("ta"), inputs=[ra.snapshot_id])
    # new upstream snapshot → stage b's identity changes → recompute
    ra2_sid = write_snapshot(spark.range(7), root, "ta", stage="a")
    rb2 = p.stage("b", "tb", lambda s: p.read("ta"), inputs=[ra2_sid])
    assert rb1.snapshot_id != rb2.snapshot_id
    assert rb2.recomputed
    assert read_snapshot(spark, root, "tb").count() == 7


# ------------------------------------------------ footer-derived commits


def _recount(spark, data_dir):
    """The read-back recount a commit used to run, kept as the oracle:
    lineage (partition id, rows) pairs in partition order, and the schema
    JSON Spark infers for the files minus ``_pid``."""
    committed = spark.read.parquet(data_dir)
    rows = committed.groupBy("_pid").count().orderBy("_pid").collect()
    return ([(int(r["_pid"]), int(r["count"])) for r in rows],
            committed.drop("_pid").schema.json())


def _manifest_parts(m):
    return [(r["partition_id"], r["rows_out"]) for r in m["lineage"]]


def _jobs_submitted(spark) -> int:
    # the DAG scheduler's job counter: synchronous, unlike the status
    # tracker, which the listener bus fills in later
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _frames(spark):
    wide = spark.createDataFrame(pd.DataFrame({
        "k": range(30), "s": [f"s{i}" for i in range(30)]}))
    return {
        "one_partition": wide.coalesce(1),
        "four_partitions": wide.repartition(4),
        # six slices, three of them empty after the filter
        "empty_partitions": spark.range(0, 60, 1, 6).filter("id < 25"),
        "no_rows": spark.range(0, 10, 1, 3).filter("id < 0"),
    }


def test_footer_lineage_equals_recount(spark, tmp_path):
    """Lineage rows, ``rows`` and schema JSON from the footers equal the
    read-back recount, on 1 and 4 partitions, with empty partitions, and
    on a frame with no rows at all."""
    for name, df in _frames(spark).items():
        write_snapshot(df, str(tmp_path), name, stage="s")
        m = read_manifest(str(tmp_path), name)
        parts, schema = _recount(spark, m["data_dir"])
        assert _manifest_parts(m) == parts, name
        assert m["rows"] == sum(n for _, n in parts) == df.count(), name
        assert m["schema"] == schema, name
    lens = [len(read_manifest(str(tmp_path), n)["lineage"])
            for n in ("one_partition", "four_partitions", "empty_partitions",
                      "no_rows")]
    assert lens == [1, 4, 3, 0]


def test_footer_lineage_over_many_row_groups(spark, tmp_path):
    """A small ``parquet.block.size`` splits each partition's file into
    several row groups; their counts add up per partition."""
    import pyarrow.parquet as pq

    from routers_spark.io.checkpoint import _data_files

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 4096)
    try:
        df = spark.range(0, 40000, 1, 3).selectExpr(
            "id", "sha2(CAST(id AS STRING), 256) AS h")
        write_snapshot(df, str(tmp_path), "t", stage="s")
    finally:
        if old is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old)
    m = read_manifest(str(tmp_path), "t")
    files = _data_files(m["data_dir"])
    assert min(pq.read_metadata(f).num_row_groups for f in files) > 1
    parts, schema = _recount(spark, m["data_dir"])
    assert _manifest_parts(m) == parts and len(parts) == 3
    assert m["rows"] == 40000 and m["schema"] == schema


def test_footer_schema_equals_read_back_schema(spark, tmp_path):
    """Nested, non-nullable, decimal, temporal, binary and map fields and
    field metadata: the footer's schema, made nullable the way a file
    source reads it, is the schema Spark infers."""
    from pyspark.sql import functions as F

    df = spark.range(5).selectExpr(
        "id", "CAST(id AS DECIMAL(12, 3)) AS dec",
        "named_struct('a', id, 'b', array(id, id + 1)) AS st",
        "map('k', named_struct('v', id)) AS mp",
        "CAST(id AS TIMESTAMP) AS ts",
        "date_add(DATE'2020-01-01', CAST(id AS INT)) AS dt",
        "CAST(CAST(id AS STRING) AS BINARY) AS bin",
        "array(named_struct('x', 1.5D)) AS arr",
    ).withColumn("tagged", F.col("id").alias("tagged",
                                             metadata={"unit": "m"}))
    assert not df.schema["id"].nullable
    write_snapshot(df, str(tmp_path), "t", stage="s")
    m = read_manifest(str(tmp_path), "t")
    assert m["schema"] == _recount(spark, m["data_dir"])[1]
    assert read_snapshot(spark, str(tmp_path), "t").schema["tagged"] \
        .metadata == {"unit": "m"}


def test_footer_without_pid_statistics_falls_back(tmp_path):
    """The footer helper answers only from usable ``_pid`` statistics."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from routers_spark.io.checkpoint import footer_partition_rows

    def write(name, pids, **kw):
        path = str(tmp_path / name)
        pq.write_table(pa.table({"_pid": pa.array(pids, pa.int32()),
                                 "v": range(len(pids))}), path, **kw)
        return path

    good = write("good.parquet", [2, 2, 2])
    assert footer_partition_rows([good]) == {2: 3}
    assert footer_partition_rows(
        [good, write("nostats.parquet", [1, 1], write_statistics=False)]) \
        is None
    assert footer_partition_rows([write("mixed.parquet", [0, 1])]) is None
    assert footer_partition_rows([write("nulls.parquet", [3, None])]) is None
    no_pid = str(tmp_path / "nopid.parquet")
    pq.write_table(pa.table({"v": [1, 2]}), no_pid)
    assert footer_partition_rows([no_pid]) is None


def test_write_snapshot_fallback_recount(spark, tmp_path, monkeypatch):
    """When a footer cannot answer, the commit recounts by reading its
    files back, and the manifest is the same as the footer path's."""
    from routers_spark.io import checkpoint

    df = spark.range(0, 60, 1, 6).filter("id < 25")
    write_snapshot(df, str(tmp_path), "footer", stage="s")
    monkeypatch.setattr(checkpoint, "footer_partition_rows", lambda p: None)
    write_snapshot(df, str(tmp_path), "recount", stage="s")
    a = read_manifest(str(tmp_path), "footer")
    b = read_manifest(str(tmp_path), "recount")
    for k in ("rows", "rows_in", "schema"):
        assert a[k] == b[k], k
    assert _manifest_parts(a) == _manifest_parts(b)


def test_write_submits_one_job_and_read_none(spark, tmp_path):
    """A commit runs the write and nothing else; a read infers no schema,
    so it submits no job until an action, and returns what the files hold
    without ``_pid``."""
    df = spark.range(0, 100, 1, 4).selectExpr("id", "id * 2 AS v")
    before = _jobs_submitted(spark)
    write_snapshot(df, str(tmp_path), "t", stage="s")
    assert _jobs_submitted(spark) - before == 1
    before = _jobs_submitted(spark)
    back = read_snapshot(spark, str(tmp_path), "t")
    assert _jobs_submitted(spark) - before == 0
    assert back.columns == ["id", "v"]
    want = spark.read.parquet(read_manifest(str(tmp_path), "t")["data_dir"]) \
        .drop("_pid")
    assert back.schema == want.schema
    pd.testing.assert_frame_equal(
        back.toPandas().sort_values("id").reset_index(drop=True),
        want.toPandas().sort_values("id").reset_index(drop=True))
