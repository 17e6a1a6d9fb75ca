"""Map-matching integration tests over the synthetic MockNetwork scenarios —
the port of libs/routers_transition/tests/matching.rs (straight-road snap,
intermediate edge, straight-vs-turn preference, Selective ≡ AllCompute when
unpruned, single point, duplicate determinism, disconnected, unanchored)."""

import numpy as np
import pandas as pd
import pytest

from routers_spark.fixtures.roads import (
    disconnected,
    four_chain,
    grid_network,
    straight_road,
    t_junction,
    walk_trips,
)
from routers_spark.graph import packed
from routers_spark.graph.packed import build_packed_graph
from routers_spark.graph.dijkstra import (
    GLOBAL_PREDICATE_CACHE,
    PredicateCache,
    route_nodes,
)
from routers_spark.matching.matcher import (
    MatchOptions,
    candidates_for_points,
    solve_trip,
)

from dijkstra_oracle import (
    bounded_dijkstra_parents,
    cache_path,
    nearest_node,
    parent_path,
)
from emit_oracle import one_cand, reach

STRAIGHT_TRACK = [(-118.151, 34.1503), (-118.155, 34.1503),
                  (-118.160, 34.1503), (-118.165, 34.1503)]


def build(netfn):
    nodes, edges = netfn()
    return build_packed_graph(nodes, edges)


def match(g, pts, **kw):
    opts = MatchOptions(**kw)
    lons, lats = zip(*pts)
    layers = candidates_for_points(g, lons, lats, opts.search_distance,
                                   opts.emission_error)
    return layers, solve_trip(g, layers, opts)


def chosen_hop(g, layers, result, k, profile=None):
    """(resolution, path_rows) of boundary k between the chosen candidates."""
    path = result["path"]
    return reach(g, GLOBAL_PREDICATE_CACHE, one_cand(layers[k], path[k]),
                 one_cand(layers[k + 1], path[k + 1]), profile)


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
    resolution, path_rows = chosen_hop(g, layers, r, 0)
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
    g = build_packed_graph(nodes, edges)
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
    # every parent chain terminates at the root, and the predicate
    # cache's arena walks the same chain
    cache = PredicateCache(threshold_cm=200_000)
    for leaf in list(parents)[:50]:
        path = parent_path(parents, 0, leaf)
        assert path is not None and path[0] == 0 and path[-1] == leaf
        assert cache_path(cache, g, 0, leaf) == path


def test_parent_path_outside_bound_is_none():
    nodes, edges = grid_network(30, spacing_deg=0.002)
    g = build_packed_graph(nodes, edges)
    parents = bounded_dijkstra_parents(g, 0, threshold_cm=100_000)  # 1 km
    far = 30 * 30 - 1  # opposite corner ~8 km away
    assert parent_path(parents, 0, far) is None
    assert cache_path(PredicateCache(threshold_cm=100_000), g, 0, far) is None


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


def box_query(g, min_lon, min_lat, max_lon, max_lat) -> np.ndarray:
    """The scalar cell-index box query, one box at a time: the oracle of
    ``PackedGraph.box_query_many``."""
    ci = g._edge_cells
    cd = packed.CELL_DEG
    cx0 = max(int(np.floor((min_lon - ci["x0"]) / cd)), 0)
    cx1 = min(int(np.floor((max_lon - ci["x0"]) / cd)), ci["nx"] - 1)
    cy0 = max(int(np.floor((min_lat - ci["y0"]) / cd)), 0)
    cy1 = min(int(np.floor((max_lat - ci["y0"]) / cd)), ci["ny"] - 1)
    if cx1 < cx0 or cy1 < cy0:
        return np.empty(0, dtype=np.int64)
    cells = [cy * ci["nx"] + cx
             for cy in range(cy0, cy1 + 1) for cx in range(cx0, cx1 + 1)]
    pos = np.searchsorted(ci["uniq"], cells)
    chunks = [ci["items"][ci["starts"][p]:ci["ends"][p]]
              for p, c in zip(pos, cells)
              if p < len(ci["uniq"]) and ci["uniq"][p] == c]
    if not chunks:
        return np.empty(0, dtype=np.int64)
    cand = np.unique(np.concatenate(chunks))
    keep = ((np.minimum(g.ax[cand], g.bx[cand]) <= max_lon)
            & (np.maximum(g.ax[cand], g.bx[cand]) >= min_lon)
            & (np.minimum(g.ay[cand], g.by[cand]) <= max_lat)
            & (np.maximum(g.ay[cand], g.by[cand]) >= min_lat))
    return cand[keep]


def test_box_query_matches_brute_force():
    # index.rs:101-203 search_matches_brute_force analog
    nodes, edges = grid_network(15, spacing_deg=0.003)
    g = build_packed_graph(nodes, edges)
    rng = np.random.default_rng(5)
    cx = rng.uniform(-118.5, -118.46, 50)
    cy = rng.uniform(33.7, 33.74, 50)
    r = rng.uniform(0.001, 0.01, 50)
    off, rows = g.box_query_many(cx - r, cy - r, cx + r, cy + r)
    min_x = np.minimum(g.ax, g.bx); max_x = np.maximum(g.ax, g.bx)
    min_y = np.minimum(g.ay, g.by); max_y = np.maximum(g.ay, g.by)
    for i in range(50):
        exp = np.flatnonzero(
            (min_x <= cx[i] + r[i]) & (max_x >= cx[i] - r[i])
            & (min_y <= cy[i] + r[i]) & (max_y >= cy[i] - r[i]))
        np.testing.assert_array_equal(rows[off[i]:off[i + 1]], exp)


def _graph_with_zero_length_edges():
    """The 12x12 grid plus two nodes sitting on grid nodes, each joined to
    its twin by zero-length edges both ways."""
    nodes, edges = grid_network(12, spacing_deg=0.002)
    n = int(nodes["node_id"].max())
    extra = nodes[nodes["node_id"].isin([0, 77])].copy()
    extra["node_id"] = [n + 1, n + 2]
    e = int(edges["edge_id"].max())
    zero = pd.DataFrame({"edge_id": [e + 1, e + 1, e + 2, e + 2],
                         "src": [0, n + 1, 77, n + 2],
                         "dst": [n + 1, 0, n + 2, 77],
                         "weight": [1, 1, 1, 1]})
    return build_packed_graph(
        pd.concat([nodes, extra], ignore_index=True),
        pd.concat([edges[["edge_id", "src", "dst", "weight"]], zero],
                  ignore_index=True))


def test_box_query_many_equals_scalar_oracle():
    g = _graph_with_zero_length_edges()
    zero = np.flatnonzero(g.edge_len_cm == 0)
    assert len(zero) == 4
    ci = g._edge_cells
    rng = np.random.default_rng(17)
    x0, y0, cd = ci["x0"], ci["y0"], packed.CELL_DEG
    n = 400
    # random boxes over and around the grid, some far outside its extent
    cx = x0 + rng.uniform(-0.5, 1.5, n) * ci["nx"] * cd
    cy = y0 + rng.uniform(-0.5, 1.5, n) * ci["ny"] * cd
    sizes = [0.0, 1e-5, 3e-4, 0.001, 0.004, 0.03]
    hw, hh = rng.choice(sizes, n), rng.choice(sizes, n)
    # boxes starting exactly on a cell border, and straddling one
    k = np.arange(40)
    bx = x0 + (k % ci["nx"]) * cd
    by = y0 + (k % ci["ny"]) * cd
    # boxes on the zero-length edges' points, and an inverted box
    zx, zy = g.ax[zero], g.ay[zero]
    boxes = [np.concatenate(parts) for parts in (
        (cx - hw, bx, bx - 1e-4, zx, [zx[0] + 1e-4]),
        (cy - hh, by, by - 1e-4, zy, [zy[0]]),
        (cx + hw, bx + 5e-4, bx + 1e-4, zx, [zx[0] - 1e-4]),
        (cy + hh, by + 5e-4, by + 1e-4, zy, [zy[0]]))]
    off, rows = g.box_query_many(*boxes)
    assert len(off) == len(boxes[0]) + 1
    empty = 0
    for i in range(len(boxes[0])):
        want = box_query(g, *(b[i] for b in boxes))
        got = rows[off[i]:off[i + 1]]
        assert got.dtype == np.int64
        np.testing.assert_array_equal(got, want, err_msg=f"box {i}")
        empty += len(want) == 0
    assert 50 < empty < len(boxes[0]) - 100
    assert set(zero.tolist()) <= set(rows.tolist())


def test_box_query_many_non_finite_boxes_match_nothing():
    g = build(straight_road)
    nan, inf = np.nan, np.inf
    good = (-118.1606, 34.1495, -118.1604, 34.1505)
    boxes = np.array([good, (nan, 34.15, -118.16, 34.16),
                      (-inf, 34.15, -118.16, 34.16),
                      (-118.17, 34.15, inf, 34.16),
                      (-inf, -inf, inf, inf), (nan, nan, nan, nan), good])
    off, rows = g.box_query_many(*boxes.T)
    counts = np.diff(off)
    assert counts[0] > 0 and counts[-1] == counts[0]
    assert (counts[1:-1] == 0).all()
    # so a NaN or infinite point gets an empty candidate layer
    layers = candidates_for_points(g, [-118.1605, nan, inf, -118.1605],
                                   [34.1503, 34.1503, 34.1503, nan],
                                   50.0, 25.0)
    assert [len(l["edge_row"]) for l in layers][1:] == [0, 0, 0]
    assert len(layers[0]["edge_row"]) > 0


def test_batched_solve_calls_no_per_item_kernel(monkeypatch):
    """The batch solve of the broadcast path runs no per-point,
    per-boundary or per-trip Python kernel in any output mode: the scalar
    box query, per-boundary pair classifier, per-root ParentMap, numpy
    weigher, per-trip emitters, numpy Trellis solve and per-pair lookups
    (``reach``, ``edge_row``, ``PredicateCache.path``) are gone from the
    package, the Trellis is never touched, and the bounded Dijkstra settles each root once, on its cache
    miss only. Its discretized rows equal ``solve_trip`` trip by trip; its
    interpolated and gate_union rows equal the per-trip emitters of
    ``tests/emit_oracle.py``."""
    from routers_spark.graph import dijkstra
    from routers_spark.graph.packed import PackedGraph
    from routers_spark.matching import matcher, trellis, weigh

    import emit_oracle

    assert not hasattr(PackedGraph, "box_query")
    assert not hasattr(weigh, "_boundary_pairs")
    assert not hasattr(weigh, "bearing_deg_np")
    assert not hasattr(matcher, "_emit_cols")
    assert not hasattr(matcher, "_routed_elems")
    assert not hasattr(dijkstra, "ParentMap")
    assert not hasattr(trellis.Trellis, "solve")
    assert not hasattr(matcher, "reach")
    assert not hasattr(matcher, "_cand")
    assert not hasattr(PackedGraph, "edge_row")
    assert not hasattr(dijkstra.PredicateCache, "path")

    def boom(*a, **k):
        raise AssertionError("called on the discretized batch path")

    monkeypatch.setattr(trellis.Trellis, "__init__", boom)
    settled = []
    real_settle = dijkstra.settle_many

    def counting_settle(graph, roots, *a, **k):
        settled.extend(np.asarray(roots).tolist())
        return real_settle(graph, roots, *a, **k)

    monkeypatch.setattr(dijkstra, "settle_many", counting_settle)

    nodes, edges = grid_network(12)
    g = build_packed_graph(nodes, edges)
    trips = walk_trips(nodes, edges, n_trips=40, points_per_trip=8, seed=9)
    opts = MatchOptions()

    def run(output="discretized"):
        return matcher._solve_trips(g, matcher._broadcast_trips(
            trips.trip_id.values, trips.seq.values, trips.lon.values,
            trips.lat.values, g, opts), opts, output)

    out = run()
    assert len(settled) == len(set(settled)) > 0
    n_settled = len(settled)
    again = run()
    assert len(settled) == n_settled  # warm: every root hits the arena
    pd.testing.assert_frame_equal(out, again)

    real_routed = matcher._routed_cols
    for output in ("interpolated", "gate_union"):
        got = run(output)
        assert len(settled) == n_settled
        monkeypatch.setattr(matcher, "_routed_cols", emit_oracle.routed_cols)
        want = run(output)
        monkeypatch.setattr(matcher, "_routed_cols", real_routed)
        assert (want.kind == "bridge").any()
        pd.testing.assert_frame_equal(got, want)

    matched = out[out.status == "matched"]
    assert matched.trip_id.nunique() > 30
    for tid, t in trips.groupby("trip_id", sort=False):
        layers = candidates_for_points(g, t.lon.values, t.lat.values,
                                       opts.search_distance,
                                       opts.emission_error)
        r = solve_trip(g, layers, opts)
        rows = out[out.trip_id == tid]
        assert set(rows.status) == {r["status"]}
        if r["status"] == "matched":
            assert rows.edge_id.tolist() == [
                int(g.edge_id[layers[k]["edge_row"][p]])
                for k, p in enumerate(r["path"])]
            assert set(rows.trip_cost) == {r["cost"]}


@pytest.mark.parametrize("output", ["interpolated", "gate_union"])
@pytest.mark.parametrize("kw", [{}, {"selective_fanout": 2},
                                {"drop_unanchored": True}],
                         ids=["default", "fanout", "drop_unanchored"])
def test_routed_output_equals_per_trip_emitters(monkeypatch, output, kw):
    """The batched interpolated / gate_union emit equals the per-trip
    emitters of ``tests/emit_oracle.py`` bit for bit, over a batch that
    mixes matched, unanchored and disconnected trips; so do an empty batch
    and a celljoin group with no subgraph (no graph at all)."""
    from routers_spark.matching import matcher

    import emit_oracle

    nodes, edges = grid_network(12)
    g = build_packed_graph(nodes, edges)
    trips = walk_trips(nodes, edges, n_trips=30, points_per_trip=8, seed=5)
    trips.loc[trips.trip_id == "trip000003", "lon"] += 1.0
    trips.loc[(trips.trip_id == "trip000005") & (trips.seq == 4), "lon"] += 1.0
    far = trips.trip_id == "trip000007"
    trips.loc[far, "lon"] = np.where(trips.seq[far] % 2, -118.478, -118.5)
    trips.loc[far, "lat"] = np.where(trips.seq[far] % 2, 33.722, 33.7)
    opts = MatchOptions(**kw)

    def both(graph, t):
        got = matcher._solve_trips(graph, t, opts, output)
        with monkeypatch.context() as mp:
            mp.setattr(matcher, "_routed_cols", emit_oracle.routed_cols)
            want = matcher._solve_trips(graph, t, opts, output)
        pd.testing.assert_frame_equal(got, want)
        return got

    out = both(g, matcher._broadcast_trips(
        trips.trip_id.values, trips.seq.values, trips.lon.values,
        trips.lat.values, g, opts))
    if output == "interpolated":
        assert set(out.status) == {"matched", "unanchored", "disconnected"}
        assert out.trip_id.nunique() == 30
    else:
        assert not {"trip000003", "trip000007"} & set(out.trip_id)
    none = np.empty(0)
    both(g, matcher._broadcast_trips(none.astype(object), none, none, none,
                                     g, opts))
    mark = np.full(2, -1, dtype=np.int64)
    nan = np.full(2, np.nan)
    both(None, matcher._candidate_trips(np.array(["a", "b"], dtype=object),
                                        mark, mark, nan, nan, nan, nan, mark))


def test_hydrate_memo_keeps_two_graphs():
    """The worker memo keeps the last two broadcast graphs; an evicted one
    takes its predicate-cache arenas and compiled-kernel arrays with it,
    and the cache's root count stays the roots its arenas hold."""
    import types

    nodes, edges = grid_network(6)
    payload = build_packed_graph(nodes, edges).to_broadcastable()
    cache = GLOBAL_PREDICATE_CACHE
    cache.__init__()
    packed._HYDRATED.clear()
    graphs = []
    for k in range(4):
        g = packed.hydrate(types.SimpleNamespace(value=payload), f"k{k}")
        assert packed.hydrate(None, f"k{k}") is g  # memoised
        cache.locate(g, [0, 1, 2], [3, 4, 5])
        graphs.append(g)
        assert len(packed._HYDRATED) <= 2
        assert {key[0] for key in cache._arenas} <= {
            h.uid for h in packed._HYDRATED.values()}
        assert cache._roots == sum(a.n_slots for a in cache._arenas.values())
    assert list(packed._HYDRATED) == ["k2", "k3"]
    assert graphs[0].dijkstra_kernel is None
    assert graphs[3].dijkstra_kernel is not None
    packed.hydrate(None, "k2")  # a hit makes k2 the most recent
    packed.hydrate(types.SimpleNamespace(value=payload), "k4")
    assert list(packed._HYDRATED) == ["k2", "k4"]
    packed._HYDRATED.clear()


def test_graph_payload_is_the_packed_graphs_payload():
    """``broadcast_graph`` ships ``graph_payload`` without building a
    PackedGraph: array for array (dtype, shape, bytes) and digest for
    digest it is ``build_packed_graph(...).to_broadcastable()``, on the
    benchmark's 40x40 grid and on a graph with ``fwd`` and ``access``
    columns whose rows arrive out of canonical order. The digests are
    pinned so the payload cannot drift with the packer."""
    from test_access import _square_with_shortcut

    nodes, edges = _square_with_shortcut(restrict_shortcut_for="hgv")
    edges = edges.iloc[::-1].reset_index(drop=True)
    edges.loc[0, "fwd"] = False
    pinned = {
        "grid": "11b6887c35b694d08a9dc229561dd2e47b6dbd3084f7058ec1eca68241ff18e4",
        "access": "60f229e67f20f26928d3cdec14759f6201a56ebac27c56550daebadc854e0e3e",
    }
    for name, (n, e) in (("grid", grid_network(40)),
                         ("access", (nodes, edges))):
        got = packed.graph_payload(n, e)
        want = build_packed_graph(n, e).to_broadcastable()
        assert list(got) == list(want)
        for k, v in want.items():
            if isinstance(v, np.ndarray):
                assert got[k].dtype == v.dtype and got[k].shape == v.shape, k
                assert got[k].tobytes() == v.tobytes(), k
            else:
                assert got[k] == v, k
        assert packed.graph_digest(got) == packed.graph_digest(want) \
            == pinned[name], name
    assert packed.graph_payload(nodes, edges)["edge_access"] is not None
    with pytest.raises(IndexError):
        packed.graph_payload(nodes[nodes.node_id < 5], edges)
    # an endpoint between two node ids, or below the smallest, is no node
    gappy = pd.DataFrame({"node_id": [1, 2, 4, 5], "lon": 0.0, "lat": 0.0})
    for src, dst, missing in ((1, 3, 3), (0, 2, 0)):
        one = pd.DataFrame({"edge_id": [0], "src": [src], "dst": [dst],
                            "weight": [1]})
        with pytest.raises(IndexError, match=f"endpoint {missing} is not"):
            packed.graph_payload(gappy, one)
