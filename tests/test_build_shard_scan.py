"""Network-build ops (S1-S3) and the hilbert-range tile scan (S8) — the
remaining scan/source operators as DataFrame algebra."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from routers_spark.config import ROAD_CLASS_WEIGHT


@pytest.fixture(scope="module")
def ways(spark):
    rows = [
        (1, [10, 11, 12], "residential", False),   # bidir, 2 segments
        (2, [12, 13], "motorway", True),            # oneway
        (3, [13, 14], "footway", False),            # filtered out (S3)
        (4, [14, 15, 16, 17], "service", True),     # oneway, 3 segments
    ]
    return spark.createDataFrame(
        rows, "way_id long, refs array<long>, highway string, oneway boolean")


def test_filter_roadways(ways):
    from routers_spark.graph.build import filter_roadways

    kept = {r.way_id for r in filter_roadways(ways).collect()}
    assert kept == {1, 2, 4}


def test_ways_to_edges_expansion(ways):
    from routers_spark.graph.build import ways_to_edges

    edges = ways_to_edges(ways).toPandas()
    # way 1: 2 segments x 2 directions; way 2: 1; way 4: 3; way 3 dropped
    assert len(edges) == 2 * 2 + 1 + 3
    w1 = edges[edges.edge_id // (1 << 16) == 1].sort_values(["edge_id", "fwd"])
    assert set(zip(w1.src, w1.dst)) == {(10, 11), (11, 10), (11, 12), (12, 11)}
    # twins share the edge_id and flip fwd
    for eid, grp in w1.groupby("edge_id"):
        assert sorted(grp.fwd) == [False, True]
    # weights from the verbatim class table
    assert (edges[edges.edge_id // (1 << 16) == 2].weight
            == ROAD_CLASS_WEIGHT["motorway"]).all()
    assert (edges[edges.edge_id // (1 << 16) == 4].weight
            == ROAD_CLASS_WEIGHT["service"]).all()
    # oneway ways have no reversed twin
    assert (edges[edges.edge_id // (1 << 16) == 4].fwd).all()


def test_built_edges_route(spark, ways):
    """The build output feeds straight into the packed graph + routing."""
    from routers_spark.graph.build import ways_to_edges
    from routers_spark.graph.dijkstra import route_nodes
    from routers_spark.graph.packed import build_packed_graph

    edges = ways_to_edges(ways).toPandas()
    node_ids = np.unique(np.concatenate([edges.src.values, edges.dst.values]))
    nodes = pd.DataFrame({"node_id": node_ids,
                          "lon": -118.0 + 0.001 * np.arange(len(node_ids)),
                          "lat": np.full(len(node_ids), 34.0)})
    g = build_packed_graph(nodes, edges)
    a = int(np.searchsorted(g.node_ids, 10))
    b = int(np.searchsorted(g.node_ids, 13))
    path, cost = route_nodes(g, a, b)
    assert [int(g.node_ids[i]) for i in path] == [10, 11, 12, 13]


def _fragment_grid(sz):
    n = 1 << sz
    xs, ys = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    return xs.ravel(), ys.ravel()


def _descendants(z, x, y, sz):
    """Membership oracle: the tiles of (z, x, y) at zoom ``sz``
    (Fragment::detail)."""
    k = sz - z
    return {(x * (1 << k) + dx, y * (1 << k) + dy)
            for dx in range(1 << k) for dy in range(1 << k)}


def test_hilbert_range_scan_equals_membership(spark):
    """Range scan (one BETWEEN on the hilbert sort key) selects exactly the
    fragment's descendant tiles (Fragment::detail membership)."""
    from routers_spark.functions.cells import hilbert_xy2h_np
    from routers_spark.tiling.pipeline import fragment_hilbert_range, scan_tile_range

    z, sz = 4, 7
    xs, ys = _fragment_grid(sz)
    hk = hilbert_xy2h_np(xs, ys, sz)
    tiles = spark.createDataFrame(
        pd.DataFrame({"x": xs, "y": ys, "hilbert": hk}))
    got = scan_tile_range(tiles, z, 5, 9, sz).toPandas()
    assert set(zip(got.x, got.y)) == _descendants(z, 5, 9, sz)
    lo, hi = fragment_hilbert_range(z, 5, 9, sz)
    assert got.hilbert.min() == lo and got.hilbert.max() == hi


def test_hilbert_range_scan_over_computed_key(spark):
    """The same range scan over a key computed in the plan (hilbert_col,
    which the BETWEEN is pushed through) selects the same tiles."""
    from routers_spark.functions.hilbert_jvm import hilbert_col
    from routers_spark.tiling.pipeline import scan_tile_range

    z, sz = 4, 7
    xs, ys = _fragment_grid(sz)
    tiles = spark.createDataFrame(pd.DataFrame({"x": xs, "y": ys})) \
        .withColumn("hilbert", hilbert_col("x", "y", sz))
    got = scan_tile_range(tiles, z, 5, 9, sz).toPandas()
    assert set(zip(got.x, got.y)) == _descendants(z, 5, 9, sz)


def test_bucketed_cell_join_is_shuffle_free(spark, tmp_path):
    """Co-located cell join via bucketing: both sides written with
    bucketBy(cell) + sortBy share a partitioning, so the equi-join plans
    WITHOUT an Exchange on either side — the pre-shuffled join the north
    rule asks for on repeatedly-joined tables (edge covers x point cells).
    At cluster scale this is the 'bucket the big tables once, join
    shuffle-free forever' pattern."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    edges = pd.DataFrame({
        "edge_id": np.arange(2000, dtype=np.int64),
        "cx": rng.integers(0, 50, 2000).astype(np.int64),
    })
    points = pd.DataFrame({
        "pid": np.arange(3000, dtype=np.int64),
        "cx": rng.integers(0, 50, 3000).astype(np.int64),
    })
    (spark.createDataFrame(edges).write.mode("overwrite")
     .bucketBy(8, "cx").sortBy("cx")
     .option("path", str(tmp_path / "bkt_edges"))
     .saveAsTable("bkt_edges"))
    (spark.createDataFrame(points).write.mode("overwrite")
     .bucketBy(8, "cx").sortBy("cx")
     .option("path", str(tmp_path / "bkt_points"))
     .saveAsTable("bkt_points"))
    # disable auto-broadcast so a shuffle WOULD appear if buckets were
    # ignored (broadcast would hide it)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_edges").join(spark.table("bkt_points"), "cx")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        n = joined.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_edges")
        spark.sql("DROP TABLE IF EXISTS bkt_points")
    assert "Exchange" not in plan, plan
    # oracle: pandas merge
    assert n == len(edges.merge(points, on="cx"))


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The persisted IVF index partitioned by list_id: a probe filter
    prunes partitions at the source (PartitionFilters), so a query touches
    only its nprobe lists' files — the IVF 'inverted read' on disk."""
    import numpy as np
    import pandas as pd

    from routers_spark.pipeline.similarity import (
        build_ivf_index,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(13)
    corpus = rng.normal(size=(400, 16))
    df = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(400, dtype=np.int64),
        "embedding": [v.astype(np.float32).tolist() for v in corpus],
    }))
    cents = train_ivf_centroids(df, nlist=8, sample=128)
    path = str(tmp_path / "ivf")
    build_ivf_index(df, cents).write.mode("overwrite") \
        .partitionBy("list_id").parquet(path)
    idx = spark.read.parquet(path)
    probe = idx.filter("list_id IN (1, 3)")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan.split(
        "PartitionFilters")[1][:120], plan
    got = probe.select("list_id").distinct().toPandas()["list_id"].tolist()
    assert set(got) <= {1, 3}
