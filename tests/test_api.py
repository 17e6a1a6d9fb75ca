"""S11 RPC-surface facades (routers_spark/api.py) + T6 dated range filter:
Point / PointSnapped / Route as DataFrame functions, asserted against the
scalar engine primitives they wrap."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from routers_spark.api import nearest_points, route_points, snap_points
from routers_spark.fixtures.roads import straight_road, t_junction
from routers_spark.graph.packed import build_packed_graph


@pytest.fixture(scope="module")
def road_dfs(spark):
    nodes, edges = t_junction()
    return spark.createDataFrame(nodes), spark.createDataFrame(edges), nodes, edges


def test_snap_points_matches_min_candidate(spark, road_dfs):
    nodes_df, edges_df, nodes, edges = road_dfs
    pts = pd.DataFrame({
        "pid": [0, 1, 2],
        "lon": [-118.155, -118.165, 0.0],   # last one: nothing in range
        "lat": [34.1504, 34.1496, 0.0],
    })
    out = snap_points(spark.createDataFrame(pts), nodes_df, edges_df,
                      search_m=60.0).toPandas().sort_values("pid")
    g = build_packed_graph(nodes, edges)
    from routers_spark.matching.matcher import candidates_for_points

    layers = candidates_for_points(g, out.lon.values, out.lat.values,
                                   60.0, 25.0)
    for (_, r), c in zip(out.iterrows(), layers):
        if len(c["edge_row"]) == 0:
            assert r.edge_id == -1 and np.isnan(r.dist_m)
        else:
            j = int(np.argmin(c["dist_m"]))
            assert r.edge_id == g.edge_id[c["edge_row"][j]]
            assert r.dist_m == c["dist_m"][j]
            assert r.snap_lon == c["px"][j]


def test_nearest_points_is_min_node(spark, road_dfs):
    nodes_df, edges_df, nodes, edges = road_dfs
    pts = pd.DataFrame({"pid": [0, 1],
                        "lon": [-118.1501, -118.169],
                        "lat": [34.1501, 34.1501]})
    out = nearest_points(spark.createDataFrame(pts), nodes_df, edges_df) \
        .toPandas().sort_values("pid")
    g = build_packed_graph(nodes, edges)
    from dijkstra_oracle import nearest_node

    for _, r in out.iterrows():
        ni = nearest_node(g, r.lon, r.lat)
        assert r.node_id == g.node_ids[ni]


def test_route_points_straight_chain(spark):
    nodes, edges = straight_road()
    pairs = pd.DataFrame({
        "req_id": [1], "lon_a": [-118.1501], "lat_a": [34.1501],
        "lon_b": [-118.1699], "lat_b": [34.1501],
    })
    out = route_points(spark.createDataFrame(pairs),
                       spark.createDataFrame(nodes),
                       spark.createDataFrame(edges)).toPandas()
    out = out.sort_values("seq")
    assert list(out.node_id) == [1, 2, 3]
    assert set(out.status) == {"routed"}
    assert out.total_weight.iloc[0] == 2  # two unit-weight edges


def test_route_points_unreachable(spark):
    from routers_spark.fixtures.roads import disconnected

    nodes, edges = disconnected()
    a = nodes.iloc[0]
    b = nodes.iloc[-1]
    pairs = pd.DataFrame({"req_id": [7], "lon_a": [a.lon], "lat_a": [a.lat],
                          "lon_b": [b.lon], "lat_b": [b.lat]})
    out = route_points(spark.createDataFrame(pairs),
                       spark.createDataFrame(nodes),
                       spark.createDataFrame(edges)).toPandas()
    assert list(out.status) == ["unreachable"]


def test_dated_range_col(spark):
    from routers_spark.functions.dated import dated_range_col
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("2024-01-08 10:00:00",),   # Monday, range start
         ("2024-01-13 10:00:00",),   # Saturday (weekday 5)
         ("2024-01-21 23:59:59",),   # Sunday, range end
         ("2024-01-22 00:00:00",)],  # past end
        "ts_s string").withColumn("ts", F.col("ts_s").cast("timestamp"))
    inc = df.filter(dated_range_col(F.col("ts"), "2024-01-08", "2024-01-21",
                                    [0, 1, 2, 3, 4], inclusive=True))
    assert [r.ts_s for r in inc.collect()] == ["2024-01-08 10:00:00"]
    exc = df.filter(dated_range_col(F.col("ts"), "2024-01-08", "2024-01-21",
                                    list(range(7)), inclusive=False))
    assert [r.ts_s for r in exc.collect()] == ["2024-01-13 10:00:00"]


def test_edge_lookup_hydrates_pairs(spark, road_dfs):
    from routers_spark.api import edge_lookup

    nodes_df, edges_df, _nodes, _edges = road_dfs
    e = edges_df.toPandas()
    pairs = spark.createDataFrame(pd.DataFrame({
        "src": [int(e["src"][0]), 999],
        "dst": [int(e["dst"][0]), 998],
    }))
    out = edge_lookup(pairs, edges_df).toPandas().sort_values("src")
    hit = out[out["src"] == int(e["src"][0])].iloc[0]
    assert hit["edge_id"] == e["edge_id"][0] and hit["weight"] == e["weight"][0]
    miss = out[out["src"] == 999].iloc[0]
    assert pd.isna(miss["edge_id"])  # Option::None -> NULL columns


def test_ring_nearest_matches_brute_everywhere(spark):
    """Ring-expansion 1-NN ≡ the brute argmin oracle for in-grid, edge-of-
    grid, and far-outside query points (including exact-node hits), on a
    dense network — the scale path must be a pure drop-in."""
    from routers_spark.fixtures.roads import grid_network
    from dijkstra_oracle import nearest_node

    nodes, edges = grid_network(25)
    g = build_packed_graph(nodes, edges)
    rng = np.random.default_rng(3)
    lon0, lat0 = nodes["lon"].mean(), nodes["lat"].mean()
    span = 0.02
    qs = [
        (lon0 + rng.uniform(-span, span), lat0 + rng.uniform(-span, span))
        for _ in range(200)
    ]
    # exact node hits + corners + far outside the grid bbox
    qs += [(nodes["lon"].iloc[7], nodes["lat"].iloc[7]),
           (nodes["lon"].min(), nodes["lat"].min()),
           (nodes["lon"].max() + 0.5, nodes["lat"].max() + 0.3),
           (0.0, 0.0)]
    lons = np.array([q[0] for q in qs])
    lats = np.array([q[1] for q in qs])
    got = g.nearest_nodes(lons, lats)
    for i in range(len(qs)):
        want = nearest_node(g, lons[i], lats[i])
        d2w = (g.node_lon[want] - lons[i]) ** 2 + (g.node_lat[want] - lats[i]) ** 2
        d2g = (g.node_lon[got[i]] - lons[i]) ** 2 + (g.node_lat[got[i]] - lats[i]) ** 2
        assert got[i] == want, (i, d2w, d2g)
