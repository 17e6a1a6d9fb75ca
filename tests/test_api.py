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
    want = snap_oracle(build_packed_graph(nodes, edges), out.lon.values,
                       out.lat.values, 60.0)
    for k, v in want.items():
        np.testing.assert_array_equal(out[k].values, v, err_msg=k)
    assert out.edge_id.iloc[-1] == -1 and np.isnan(out.dist_m.iloc[-1])


def snap_oracle(g, lons, lats, search_m):
    """The per-point selection loop ``snap_points`` used to run: cut the
    candidate table into per-point dicts and take each one's np.argmin."""
    from routers_spark.matching.matcher import candidates_for_points

    cands = candidates_for_points(g, lons, lats, search_m, 25.0)
    n = len(cands)
    eid = np.full(n, -1, dtype=np.int64)
    sx, sy, fr, dm = (np.full(n, np.nan) for _ in range(4))
    for i, c in enumerate(cands):
        if len(c["edge_row"]) == 0:
            continue
        j = int(np.argmin(c["dist_m"]))  # first min = stable-sort head
        eid[i] = g.edge_id[c["edge_row"][j]]
        sx[i], sy[i] = c["px"][j], c["py"][j]
        fr[i], dm[i] = c["frac"][j], c["dist_m"][j]
    return {"edge_id": eid, "snap_lon": sx, "snap_lat": sy, "frac": fr,
            "dist_m": dm}


def test_ragged_argmin_is_per_group_argmin():
    """First minimum per group, a NaN being the minimum (np.argmin's
    rule), -1 for an empty group; ties, NaNs and empties interleaved."""
    from routers_spark.functions.ragged import ragged_argmin

    rng = np.random.default_rng(7)
    counts = rng.integers(0, 5, 400)
    counts[:3] = 0
    counts[-2:] = 0
    vals = rng.integers(0, 4, counts.sum()).astype(np.float64)  # ties
    vals[rng.random(len(vals)) < 0.05] = np.nan
    vals[rng.random(len(vals)) < 0.05] = -0.0
    off = np.r_[0, np.cumsum(counts)]
    want = [a + int(np.argmin(vals[a:b])) if b > a else -1
            for a, b in zip(off[:-1], off[1:])]
    assert ragged_argmin(off, vals).tolist() == want
    ints = np.nan_to_num(vals).astype(np.int64)
    assert ragged_argmin(off, ints).tolist() == [
        a + int(np.argmin(ints[a:b])) if b > a else -1
        for a, b in zip(off[:-1], off[1:])]
    assert ragged_argmin(np.zeros(4, np.int64), np.empty(0)).tolist() == \
        [-1, -1, -1]


def test_nearest_on_edges_matches_per_point_loop():
    """The vectorised pick equals the per-point argmin loop: points on
    grid nodes (equal distances to every edge meeting there), on edge
    midpoints, random points, points with nothing in range, and NaN and
    infinite points."""
    from routers_spark.api import nearest_on_edges
    from routers_spark.fixtures.roads import grid_network

    nodes, edges = grid_network(8)
    g = build_packed_graph(nodes, edges)
    rng = np.random.default_rng(11)
    mid_lon = (g.ax + g.bx) / 2
    mid_lat = (g.ay + g.by) / 2
    lons = np.r_[g.node_lon[:20], mid_lon[:20],
                 rng.uniform(g.node_lon.min(), g.node_lon.max(), 200),
                 0.0, np.nan, -118.49, np.inf, np.nan]
    lats = np.r_[g.node_lat[:20], mid_lat[:20],
                 rng.uniform(g.node_lat.min(), g.node_lat.max(), 200),
                 0.0, 33.7, np.nan, 33.7, np.nan]
    want = snap_oracle(g, lons, lats, 60.0)
    got = nearest_on_edges(g, lons, lats, 60.0)
    assert list(got) == list(want)
    for k in want:
        np.testing.assert_array_equal(got[k], want[k], err_msg=k)
    from routers_spark.matching.matcher import candidates_for_points

    tied = sum(int((c["dist_m"] == c["dist_m"].min()).sum() > 1)
               for c in candidates_for_points(g, lons, lats, 60.0, 25.0)
               if len(c["dist_m"]))
    assert tied >= 20  # the fixture does exercise the first-min rule
    assert (got["edge_id"][-5:] == -1).all()  # out of range, NaN, inf
    empty = nearest_on_edges(g, np.empty(0), np.empty(0), 60.0)
    assert all(len(v) == 0 for v in empty.values())


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
