"""S6 end-to-end: the streaming matcher driven through a real Structured
Streaming query — file source → applyInPandasWithState → memory sink, with
a second batch resuming from the checkpoint (state-store round trip)."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from routers_spark.fixtures.roads import straight_road
from routers_spark.streaming.match_stream import match_stream

EV_SCHEMA = "vehicle_id long, ts_us long, lon double, lat double"


def _run_batch(spark, src, ck, out, edge_offset=0):
    """One availableNow pass writing to a resumable parquet sink (the memory
    sink cannot recover from a checkpoint), on the straight road with its
    edge ids shifted by ``edge_offset``."""
    events = spark.readStream.schema(EV_SCHEMA).parquet(src)
    nodes, edges = straight_road()
    edges["edge_id"] = edges["edge_id"] + edge_offset
    q = (
        match_stream(events, spark.createDataFrame(nodes),
                     spark.createDataFrame(edges))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).outputMode("append").start()
    )
    q.awaitTermination(300)
    return spark.read.parquet(out)


@pytest.mark.slow
def test_stream_end_to_end_with_resume(spark, tmp_path):
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    os.makedirs(src)

    batch1 = pd.DataFrame({
        "vehicle_id": [7, 7, 9],
        "ts_us": [1_000_000, 2_000_000, 1_000_000],
        "lon": [-118.151, -118.155, -118.166],
        "lat": [34.1501, 34.1499, 34.1501],
    })
    spark.createDataFrame(batch1).write.mode("append").parquet(src)
    out1 = _run_batch(spark, src, ck, out).collect()
    assert {r.vehicle_id for r in out1} == {7, 9}
    assert all(r.edge_id >= 0 for r in out1)

    # second file lands; the query resumes from the checkpointed state —
    # vehicle 7's retained window continues (revision increments), and the
    # merged layers equal the batch match over the full track
    batch2 = pd.DataFrame({
        "vehicle_id": [7, 7],
        "ts_us": [3_000_000, 4_000_000],
        "lon": [-118.161, -118.168],
        "lat": [34.1501, 34.1499],
    })
    spark.createDataFrame(batch2).write.mode("append").parquet(src)
    rows = _run_batch(spark, src, ck, out).collect()  # sink accumulates
    v7_new = [r for r in rows
              if r.vehicle_id == 7 and r.ts_us >= 3_000_000]
    assert {r.ts_us for r in v7_new} == {3_000_000, 4_000_000}
    assert min(r.revision for r in v7_new) >= 2  # state resumed, not restarted
    # run 2 broadcast the same graph: its content digest is the states'
    # graph key, so the restored states are not downgraded
    assert not any(r.downgraded for r in rows)

    # merged (max revision per ts) across both runs == batch match
    from routers_spark.graph.packed import build_packed_graph
    from tests.test_streaming import batch_edges

    nodes, edges = straight_road()
    g = build_packed_graph(nodes, edges)
    track = [(-118.151, 34.1501), (-118.155, 34.1499),
             (-118.161, 34.1501), (-118.168, 34.1499)]
    expect = batch_edges(g, track)
    merged: dict[int, tuple[int, int]] = {}
    for r in rows:
        if r.vehicle_id != 7:
            continue
        if r.ts_us not in merged or r.revision > merged[r.ts_us][0]:
            merged[r.ts_us] = (r.revision, r.edge_id)
    assert [v[1] for _, v in sorted(merged.items())] == expect

    # R6 observed through the real surface: run 3 broadcasts ANOTHER graph
    # (renumbered edges), so vehicle 7's restored state restarts from raw
    # origins and flags its re-solve downgraded (matcher/entity.rs:253-258)
    batch3 = pd.DataFrame({"vehicle_id": [7], "ts_us": [5_000_000],
                           "lon": [-118.169], "lat": [34.1501]})
    spark.createDataFrame(batch3).write.mode("append").parquet(src)
    rows3 = [r for r in _run_batch(spark, src, ck, out, 1000).collect()
             if r.revision >= 3]
    assert rows3 and all(r.downgraded and r.edge_id >= 1000 for r in rows3)


@pytest.mark.slow
def test_cell_count_stream_watermark_drops_late(spark, tmp_path):
    """Windowed per-cell rollup with a watermark: two availableNow passes —
    the second delivers one in-window row for an OPEN window (counted) and
    one row far behind the watermark (dropped). Batch parity: the same
    operator over the union of on-time rows equals the streamed result."""
    import numpy as np

    from routers_spark.streaming.rollup import cell_count_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    sch = "ts timestamp, lon double, lat double"

    base = pd.Timestamp("2024-01-01 00:00:00")
    early = pd.DataFrame({
        "ts": [base + pd.Timedelta(seconds=s) for s in (10, 20, 70)],
        "lon": [-118.30, -118.30, -118.30],
        "lat": [33.90, 33.90, 33.90],
    })
    spark.createDataFrame(early, sch).coalesce(1) \
        .write.mode("append").parquet(src)

    def run_pass():
        q = (
            cell_count_stream(
                spark.readStream.schema(sch).parquet(src),
                window="1 minute", watermark="2 minutes", precision=5)
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).outputMode("append").start()
        )
        q.awaitTermination(300)

    run_pass()
    # pass 2: max event time so far is 00:01:10 -> watermark 23:59:10.
    # A row at 00:01:30 lands in the open [00:01, 00:02) window; a row at
    # 23:00 of the PREVIOUS day is far behind the watermark once the
    # watermark advances past it (third pass closes the books).
    late = pd.DataFrame({
        "ts": [base + pd.Timedelta(seconds=90),
               base - pd.Timedelta(hours=1)],
        "lon": [-118.30, -118.30],
        "lat": [33.90, 33.90],
    })
    spark.createDataFrame(late, sch).coalesce(1) \
        .write.mode("append").parquet(src)
    run_pass()
    # a third pass with a fresh far-future row pushes the watermark past
    # every earlier window so append mode emits them all
    flush = pd.DataFrame({
        "ts": [base + pd.Timedelta(hours=2)],
        "lon": [-118.30], "lat": [33.90],
    })
    spark.createDataFrame(flush, sch).coalesce(1) \
        .write.mode("append").parquet(src)
    run_pass()

    got = spark.read.parquet(out).toPandas()
    got = got[got["window_start"] >= base]  # ignore the flush row's window
    counts = {r["window_start"].strftime("%H:%M"): r["n"]
              for _, r in got.iterrows() if r["window_start"] < base
              + pd.Timedelta(minutes=5)}
    # window 00:00 -> 2 on-time rows; window 00:01 -> 70s + the in-window
    # 90s row = 2. The hour-early row was dropped by the watermark.
    assert counts == {"00:00": 2, "00:01": 2}

    # batch parity over the rows the stream accepted
    batch_in = spark.createDataFrame(
        pd.concat([early, late.iloc[[0]]], ignore_index=True), sch)
    batch = cell_count_stream(batch_in, window="1 minute",
                              watermark="2 minutes", precision=5).toPandas()
    bcounts = {r["window_start"].strftime("%H:%M"): r["n"]
               for _, r in batch.iterrows()}
    assert bcounts == counts


@pytest.mark.slow
def test_graph_epoch_swap_takes_effect(spark, tmp_path):
    """R6 completion: with a GraphRegistry, publishing a NEW graph epoch
    between micro-batch passes changes the graph the stream matches
    against — post-swap rows carry the new graph's edge ids (the swap
    actually took effect, not just a flag) and the restored states flag
    their transition batch downgraded. The streaming plan is built ONCE;
    only the registry's CURRENT pointer moves."""
    from routers_spark.fixtures.roads import straight_road
    from routers_spark.streaming.epoch import GraphRegistry

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    os.makedirs(src)
    reg = GraphRegistry(str(tmp_path / "graphs"))
    os.makedirs(reg.path)

    nodes, edges = straight_road()
    reg.publish(nodes, edges, "1")

    def run_pass():
        events = spark.readStream.schema(EV_SCHEMA).parquet(src)
        q = (
            match_stream(events, registry=reg)
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).outputMode("append").start()
        )
        q.awaitTermination(300)

    batch1 = pd.DataFrame({
        "vehicle_id": [7, 7],
        "ts_us": [1_000_000, 2_000_000],
        "lon": [-118.151, -118.155],
        "lat": [34.1501, 34.1499],
    })
    spark.createDataFrame(batch1).write.mode("append").parquet(src)
    run_pass()
    rows1 = spark.read.parquet(out).collect()
    assert rows1 and all(r.edge_id < 1000 for r in rows1)
    assert all(not r.downgraded for r in rows1)

    # publish epoch 2: same geometry, RENUMBERED edges — any post-swap match
    # must surface the new ids, proving the stream re-hydrated the graph
    edges2 = edges.copy()
    edges2["edge_id"] = edges2["edge_id"] + 1000
    reg.publish(nodes, edges2, "2")

    batch2 = pd.DataFrame({
        "vehicle_id": [7, 7],
        "ts_us": [3_000_000, 4_000_000],
        "lon": [-118.161, -118.168],
        "lat": [34.1501, 34.1499],
    })
    spark.createDataFrame(batch2).write.mode("append").parquet(src)
    run_pass()
    rows2 = [r for r in spark.read.parquet(out).collect()
             if r.ts_us >= 3_000_000 or r.revision >= 2]
    assert rows2, "post-swap batch emitted nothing"
    assert all(r.edge_id >= 1000 for r in rows2)  # NEW graph in use
    assert all(r.downgraded for r in rows2)       # transition flagged
