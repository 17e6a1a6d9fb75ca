"""Map-matching integration tests over the synthetic MockNetwork scenarios —
the port of libs/routers_transition/tests/matching.rs (straight-road snap,
intermediate edge, straight-vs-turn preference, Selective ≡ AllCompute when
unpruned, single point, duplicate determinism, disconnected, unanchored)."""

import numpy as np
import pytest

from routers_spark.fixtures.roads import (
    disconnected,
    four_chain,
    grid_network,
    straight_road,
    t_junction,
    walk_trips,
)
from routers_spark.graph.packed import build_packed_graph
from routers_spark.graph.dijkstra import (
    nearest_node,
    parent_path_pm,
    route_nodes,
)
from routers_spark.matching.matcher import (
    MatchOptions,
    candidates_for_points,
    solve_trip,
)

from dijkstra_oracle import bounded_dijkstra_parents, parent_map_from_dict

STRAIGHT_TRACK = [(-118.151, 34.1503), (-118.155, 34.1503),
                  (-118.160, 34.1503), (-118.165, 34.1503)]


def build(netfn):
    nodes, edges = netfn()
    return build_packed_graph(nodes, edges).build_cell_index()


def match(g, pts, **kw):
    opts = MatchOptions(**kw)
    lons, lats = zip(*pts)
    layers = candidates_for_points(g, lons, lats, opts.search_distance,
                                   opts.emission_error)
    return layers, solve_trip(g, layers, opts)


def matched_edges(g, layers, result):
    return [int(g.edge_id[layers[k]["edge_row"][result["path"][k]]])
            for k in range(len(result["path"]))]


def test_straight_road_snaps():
    g = build(straight_road)
    layers, r = match(g, STRAIGHT_TRACK)
    assert r["status"] == "matched"
    assert len(r["path"]) == 4  # one element per input point
    assert matched_edges(g, layers, r) == [0, 0, 0, 1]


def test_intermediate_edge_crossed():
    g = build(four_chain)
    layers, r = match(g, [(-118.141, 34.1503), (-118.169, 34.1503)])
    assert r["status"] == "matched"
    assert matched_edges(g, layers, r) == [0, 2]
    # the hop bridges via edge 1 (standard resolution with a routed path)
    resolution, path_rows = r["hops"][0]
    assert resolution == "standard"
    assert [int(g.edge_id[e]) for e in path_rows] == [1]


def test_t_junction_prefers_straight():
    g = build(t_junction)
    track = [(-118.101, 34.1503), (-118.111, 34.1503), (-118.121, 34.1503),
             (-118.131, 34.1503), (-118.141, 34.1503), (-118.151, 34.1503),
             (-118.158, 34.1503)]
    layers, r = match(g, track)
    assert r["status"] == "matched"
    # south branch (edge_id 2) never matched
    assert 2 not in matched_edges(g, layers, r)


def test_single_point():
    g = build(straight_road)
    layers, r = match(g, [(-118.155, 34.1503)])
    assert r["status"] == "matched"
    assert len(r["path"]) == 1
    assert matched_edges(g, layers, r) == [0]


def test_duplicate_points_deterministic():
    g = build(straight_road)
    pts = [(-118.155, 34.1503)] * 3 + [(-118.165, 34.1503)]
    l1, r1 = match(g, pts)
    l2, r2 = match(g, pts)
    assert r1["path"] == r2["path"]
    assert r1["cost"] == r2["cost"]
    assert matched_edges(g, l1, r1) == [0, 0, 0, 1]


def test_disconnected_components_error():
    g = build(disconnected)
    _, r = match(g, [(-118.151, 34.1503), (-117.005, 33.0003)])
    assert r["status"] == "disconnected"
    assert r["breaks"] == [0]


def test_unanchored_point_rejects_batch():
    g = build(straight_road)
    _, r = match(g, [(-118.151, 34.1503), (0.0, 0.0)])
    assert r["status"] == "unanchored"
    assert r["breaks"] == [1]


def test_drop_unanchored_streaming_semantics():
    # bin/matcher.rs:143-157: per-point drop instead of batch rejection
    g = build(straight_road)
    opts = MatchOptions(drop_unanchored=True)
    pts = [(-118.151, 34.1503), (0.0, 0.0), (-118.165, 34.1503)]
    lons, lats = zip(*pts)
    layers = candidates_for_points(g, lons, lats, opts.search_distance,
                                   opts.emission_error)
    layers = [l for l in layers if len(l["edge_row"])]
    r = solve_trip(g, layers, opts)
    assert r["status"] == "matched"
    assert len(r["path"]) == 2


def test_selective_equals_allcompute_when_unpruned():
    # matching.rs:301-309: fanout >= width → identical results
    g = build(t_junction)
    track = [(-118.101, 34.1503), (-118.121, 34.1503), (-118.141, 34.1503),
             (-118.158, 34.1503)]
    _, r_all = match(g, track)
    _, r_sel = match(g, track, selective_fanout=16)
    assert r_all["path"] == r_sel["path"]
    assert r_all["cost"] == r_sel["cost"]


def test_repeat_match_determinism_on_grid():
    nodes, edges = grid_network(10)
    g = build_packed_graph(nodes, edges).build_cell_index()
    trips = walk_trips(nodes, edges, n_trips=5, points_per_trip=8, seed=7)
    for tid, grp in trips.groupby("trip_id"):
        pts = list(zip(grp["lon"], grp["lat"]))
        l1, r1 = match(g, pts)
        l2, r2 = match(g, pts)
        assert r1["status"] == r2["status"]
        if r1["status"] == "matched":
            assert r1["path"] == r2["path"]


# ------------------------------------------------------------------ graph


def test_bounded_dijkstra_cutoff():
    nodes, edges = grid_network(20, spacing_deg=0.002)  # ~222 m spacing
    g = build_packed_graph(nodes, edges)
    parents = bounded_dijkstra_parents(g, 0, threshold_cm=200_000)
    # 2 km bound / ~222 m edges → nodes within ~9 manhattan steps; the grid
    # corner reaches ~9+9: must be bounded well below the full 400 nodes
    assert 10 < len(parents) < 400
    # every parent chain terminates at the root
    pm = parent_map_from_dict(parents)
    for leaf in list(parents)[:50]:
        path = parent_path_pm(pm, 0, leaf)
        assert path is not None and path[0] == 0 and path[-1] == leaf


def test_parent_path_outside_bound_is_none():
    nodes, edges = grid_network(30, spacing_deg=0.002)
    g = build_packed_graph(nodes, edges)
    parents = bounded_dijkstra_parents(g, 0, threshold_cm=100_000)  # 1 km
    far = 30 * 30 - 1  # opposite corner ~8 km away
    assert parent_path_pm(parent_map_from_dict(parents), 0, far) is None


def test_route_nodes_grid():
    nodes, edges = grid_network(5)
    g = build_packed_graph(nodes, edges)
    path, cost = route_nodes(g, 0, 24)  # corner to corner, weight 1 each
    assert path[0] == 0 and path[-1] == 24
    # the (0,0)->(1,1) diagonal shortcut exists (diag_every=7 places one),
    # so: 1 diagonal + 3 right + 3 down = 7 edges at weight 1
    assert cost == 7


def test_nearest_node_snap():
    nodes, edges = straight_road()
    g = build_packed_graph(nodes, edges)
    idx = nearest_node(g, -118.1605, 34.1501)
    assert int(g.node_ids[idx]) == 2


def test_box_query_matches_brute_force():
    # index.rs:101-203 search_matches_brute_force analog
    nodes, edges = grid_network(15, spacing_deg=0.003)
    g = build_packed_graph(nodes, edges).build_cell_index()
    rng = np.random.default_rng(5)
    for _ in range(50):
        cx = rng.uniform(-118.5, -118.46)
        cy = rng.uniform(33.7, 33.74)
        r = rng.uniform(0.001, 0.01)
        got = set(g.box_query(cx - r, cy - r, cx + r, cy + r).tolist())
        min_x = np.minimum(g.ax, g.bx); max_x = np.maximum(g.ax, g.bx)
        min_y = np.minimum(g.ay, g.by); max_y = np.maximum(g.ay, g.by)
        exp = set(np.flatnonzero(
            (min_x <= cx + r) & (max_x >= cx - r)
            & (min_y <= cy + r) & (max_y >= cy - r)).tolist())
        assert got == exp
