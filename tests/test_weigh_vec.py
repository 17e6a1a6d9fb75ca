"""Bit-parity of the batched boundary weigher (matching/weigh.py) against
the per-pair scalar oracle kept here (``transition_cost`` and its libm
helpers): the vectorized path must reproduce the reference-semantics scalar
path EXACTLY (same IEEE-754 results, same u32 truncations), across random
candidate layers on the grid fixture, same-edge direct/backtrack cases, and
the selective fan-out."""

from __future__ import annotations

import math

import numpy as np
import pytest

from routers_spark.config import (
    COST_DAMPING,
    COST_PRECISION,
    EARTH_RADIUS_M,
    MAX_WEIGHT,
    MIN_HEADING_DIST_M,
    NO_EDGE,
)
from routers_spark.fixtures.roads import grid_network, t_junction, walk_trips
from routers_spark.functions.geo import bearing_deg_np, haversine_m_np
from routers_spark.graph.dijkstra import PredicateCache
from routers_spark.graph.packed import build_packed_graph
from routers_spark.matching.matcher import _cand, candidates_for_points, reach
from routers_spark.matching.weigh import weigh_boundaries

_EPS = 1e-6


# ------------------------------------------------- the scalar oracle
# One transition at a time on Python floats with libm, formula by formula
# after costing/default.rs:137-163, map_path/entity.rs:149-168 + 229-297
# and costing/util.rs:29-39.


def haversine_s(lon1: float, lat1: float, lon2: float, lat2: float) -> float:
    rl1, rl2 = math.radians(lat1), math.radians(lat2)
    dlat = rl2 - rl1
    dlon = math.radians(lon2) - math.radians(lon1)
    a = (math.sin(dlat / 2.0) ** 2
         + math.cos(rl1) * math.cos(rl2) * math.sin(dlon / 2.0) ** 2)
    return 2.0 * EARTH_RADIUS_M * math.asin(min(1.0, math.sqrt(a)))


def bearing_s(lon1: float, lat1: float, lon2: float, lat2: float) -> float:
    rl1, rl2 = math.radians(lat1), math.radians(lat2)
    dlon = math.radians(lon2) - math.radians(lon1)
    y = math.sin(dlon) * math.cos(rl2)
    x = math.cos(rl1) * math.sin(rl2) - math.sin(rl1) * math.cos(rl2) * math.cos(dlon)
    # np.arctan2, not math.atan2: numpy's kernel differs from libm by 1 ULP
    # on some inputs, and the batched weigher is the product path — the
    # oracle follows IT so both are bit-identical.
    return math.degrees(float(np.arctan2(y, x))) % 360.0


def headings_scalar(lons: list[float], lats: list[float]) -> list[float]:
    """Consecutive-pair bearings, skipping pairs closer than 1 m
    (map_path/entity.rs:149-168)."""
    out = []
    for i in range(len(lons) - 1):
        if haversine_s(lons[i], lats[i], lons[i + 1], lats[i + 1]) >= MIN_HEADING_DIST_M:
            out.append(bearing_s(lons[i], lats[i], lons[i + 1], lats[i + 1]))
    return out


def complexity_scalar(headings: list[float]) -> float:
    """Harmonic-mean angular complexity over wrapped, damped heading deltas
    (map_path/entity.rs:264-297). Fewer than two headings → 1.0."""
    if len(headings) < 2:
        return 1.0
    inv_sum = 0.0
    n = 0
    for i in range(len(headings) - 1):
        d = math.fmod(headings[i + 1] - headings[i], 360.0)
        if d > 180.0:
            d -= 360.0
        elif d <= -180.0:
            d += 360.0
        d = max(-180.0, min(180.0, d))
        c = math.cos(d * math.pi / 180.0 * COST_DAMPING)
        if c <= 0.0:
            return 0.0
        c = min(c, 1.0)
        inv_sum += 1.0 / c
        n += 1
    return max(0.0, min(1.0, n / inv_sum))


def decay_u32_scalar(value: float, zeta: float = 1.0,
                     beta: float = 1.0) -> int:
    if value != value:  # NaN ≙ reference None → most expensive
        value = 0.0
    v = min(max(value, _EPS), 1.0)
    inv = 1.0 / v
    if beta != 1.0:
        inv = inv ** beta
    return int((COST_PRECISION * zeta) * inv)


def transition_value(straightline_m: float, route_length_m: float,
                     angular: float, src_weight: int, tgt_weight: int) -> float:
    """The [0,1] transition heuristic (default.rs:137-163)."""
    deviance = 1.0 if route_length_m <= 0.0 else straightline_m / route_length_m
    deviance = min(max(deviance, _EPS), 1.0)
    turn = min(max(angular, _EPS), 1.0)
    cont = min(max(src_weight / tgt_weight, _EPS), 1.0)
    return math.sqrt(deviance * turn * cont)


def transition_cost(graph, cache, src: dict, tgt: dict,
                    profile=None, costing_strategies=None) -> int | None:
    """M4: u32 transition cost for one candidate pair, or None (→ NO_EDGE)."""
    r = reach(graph, cache, src, tgt, profile)
    if r is None:
        return None
    resolution, path_rows = r

    # path nodes from edges: sources + last target (resolve.rs:67-77)
    if path_rows:
        node_idx = [int(graph.edge_src[e]) for e in path_rows]
        node_idx.append(int(graph.edge_dst[path_rows[-1]]))
        mp_lon = [float(graph.node_lon[i]) for i in node_idx]
        mp_lat = [float(graph.node_lat[i]) for i in node_idx]
        mp_len = 0.0
        for i in range(len(mp_lon) - 1):
            mp_len += haversine_s(mp_lon[i], mp_lat[i],
                                  mp_lon[i + 1], mp_lat[i + 1])
    else:
        mp_lon = []
        mp_lat = []
        mp_len = 0.0

    straight = haversine_s(src["px"], src["py"], tgt["px"], tgt["py"])

    # offsets (transition.rs:205-238)
    if resolution == "direct":
        offset = straight
    else:
        e_s, e_t = src["edge_row"], tgt["edge_row"]
        offset = haversine_s(
            src["px"], src["py"], float(graph.bx[e_s]), float(graph.by[e_s])
        ) + haversine_s(
            float(graph.ax[e_t]), float(graph.ay[e_t]), tgt["px"], tgt["py"]
        )

    route_length = mp_len + offset

    # angular complexity with explicit endpoint headings, NaN (edge <1 m)
    # skipped (transition.rs:148-156 + map_path/entity.rs:260-283)
    pos_lon = [src["px"], *mp_lon, tgt["px"]]
    pos_lat = [src["py"], *mp_lat, tgt["py"]]
    heads = []
    h_src = float(graph.edge_heading[src["edge_row"]])
    h_tgt = float(graph.edge_heading[tgt["edge_row"]])
    if not np.isnan(h_src):
        heads.append(h_src)
    heads.extend(headings_scalar(pos_lon, pos_lat))
    if not np.isnan(h_tgt):
        heads.append(h_tgt)
    angular = complexity_scalar(heads)

    w_s = int(graph.edge_weight[src["edge_row"]])
    w_t = int(graph.edge_weight[tgt["edge_row"]])
    tstrat = (costing_strategies.transition
              if costing_strategies is not None else None)
    if tstrat is not None and tstrat.calculate is not None:
        value = float(np.asarray(tstrat.calculate(
            np.float64(straight), np.float64(route_length),
            np.float64(angular), np.float64(w_s), np.float64(w_t))))
    else:
        value = transition_value(straight, route_length, angular, w_s, w_t)
    zeta = tstrat.zeta if tstrat is not None else 1.0
    beta = tstrat.beta if tstrat is not None else 1.0
    # decay + trellis ceiling clamp (weigh/mod.rs:83: ``.min(MAX_WEIGHT)``)
    return min(decay_u32_scalar(value, zeta, beta), MAX_WEIGHT)


def scalar_matrix(graph, cache, A, B, fanout=None, costing=None):
    """The per-pair loop over one boundary: the oracle matrix."""
    m, n = len(A["edge_row"]), len(B["edge_row"])
    mat = np.full((m, n), np.uint32(NO_EDGE), dtype=np.uint32)
    for i in range(m):
        src = _cand(A, i)
        if fanout is not None and n > fanout:
            d = haversine_m_np(src["px"], src["py"], B["px"], B["py"])
            targets = np.argpartition(d, fanout - 1)[:fanout].tolist()
        else:
            targets = range(n)
        for j in targets:
            cost = transition_cost(graph, cache, src, _cand(B, j),
                                   costing_strategies=costing)
            if cost is not None:
                mat[i, j] = cost
    return mat


def weigh_one(graph, cache, A, B, **kw):
    return weigh_boundaries(graph, cache, [(A, B)], **kw)[0]


def _random_layers(graph, rng, n_points, lon0, lat0, span):
    lons = lon0 + rng.random(n_points) * span
    lats = lat0 + rng.random(n_points) * span
    return candidates_for_points(graph, lons, lats, 80.0, 25.0)


@pytest.fixture(scope="module")
def grid_graph():
    nodes, edges = grid_network(12)
    g = build_packed_graph(nodes, edges).build_cell_index()
    return g


def test_vectorized_equals_scalar_random_boundaries(grid_graph):
    g = grid_graph
    rng = np.random.default_rng(7)
    cache = PredicateCache()
    layers = _random_layers(g, rng, 24, -118.4995, 33.7005, 0.016)
    layers = [l for l in layers if len(l["edge_row"])]
    assert len(layers) >= 10
    # the whole trip in one call, as solve_trip weighs it
    mats = weigh_boundaries(g, cache, list(zip(layers, layers[1:])))
    assert len(mats) == len(layers) - 1
    for k, got in enumerate(mats):
        want = scalar_matrix(g, cache, layers[k], layers[k + 1])
        np.testing.assert_array_equal(got, want)


def test_multi_trip_call_equals_per_trip_calls(grid_graph):
    """One call over many trips' boundaries (as _solve_trips weighs a
    chunk) returns, bit for bit, the matrices of one call per trip."""
    nodes, edges = grid_network(12)
    trips = walk_trips(nodes, edges, n_trips=12, points_per_trip=9, seed=4)
    per_trip = []
    for _, t in trips.groupby("trip_id", sort=True):
        layers = candidates_for_points(grid_graph, t["lon"].values,
                                       t["lat"].values, 50.0, 25.0)
        per_trip.append([b for b in zip(layers, layers[1:])
                         if len(b[0]["edge_row"]) and len(b[1]["edge_row"])])
    want = [m for bs in per_trip
            for m in weigh_boundaries(grid_graph, PredicateCache(), bs)]
    got = weigh_boundaries(grid_graph, PredicateCache(),
                           [b for bs in per_trip for b in bs])
    assert len(got) == len(want) > 60
    for a, b in zip(got, want):
        assert a.dtype == b.dtype == np.uint32
        np.testing.assert_array_equal(a, b)
    assert any((m != np.uint32(NO_EDGE)).any() for m in got)


def test_vectorized_equals_scalar_selective_fanout(grid_graph):
    g = grid_graph
    rng = np.random.default_rng(11)
    cache = PredicateCache()
    layers = _random_layers(g, rng, 12, -118.4995, 33.7005, 0.01)
    layers = [l for l in layers if len(l["edge_row"]) > 3]
    assert len(layers) >= 4
    mats = weigh_boundaries(g, cache, list(zip(layers, layers[1:])),
                            fanout=3)
    for k, got in enumerate(mats):
        want = scalar_matrix(g, cache, layers[k], layers[k + 1], fanout=3)
        np.testing.assert_array_equal(got, want)


def test_vectorized_same_edge_direct_and_backtrack():
    """A layer paired with itself exercises direct (frac <=) and same-edge
    backtrack (frac >) resolutions in one matrix."""
    nodes, edges = t_junction()
    g = build_packed_graph(nodes, edges).build_cell_index()
    cache = PredicateCache()
    rng = np.random.default_rng(3)
    lons = -118.16 + rng.random(6) * 0.02
    lats = 34.149 + rng.random(6) * 0.004
    layers = candidates_for_points(g, lons, lats, 300.0, 25.0)
    layers = [l for l in layers if len(l["edge_row"])]
    for A in layers:
        want = scalar_matrix(g, cache, A, A)
        got = weigh_one(g, cache, A, A)
        np.testing.assert_array_equal(got, want)


def test_vectorized_unreachable_boundary():
    """Disconnected components: every standard pair must stay NO_EDGE."""
    from routers_spark.fixtures.roads import disconnected

    nodes, edges = disconnected()
    g = build_packed_graph(nodes, edges).build_cell_index()
    cache = PredicateCache()
    # one point per component
    layers = candidates_for_points(
        g, np.array([nodes.lon.min(), nodes.lon.max()]),
        np.array([nodes.lat.min(), nodes.lat.max()]), 500.0, 25.0)
    A, B = layers[0], layers[1]
    if len(A["edge_row"]) and len(B["edge_row"]):
        want = scalar_matrix(g, cache, A, B)
        got = weigh_one(g, cache, A, B)
        np.testing.assert_array_equal(got, want)


def test_scalar_vector_geo_twins_bit_equal():
    """The geo kernels the weigher calls (haversine_m_np / bearing_deg_np)
    must be bit-equal to the oracle's libm haversine_s / bearing_s."""
    rng = np.random.default_rng(5)
    lon1 = -180 + 360 * rng.random(500)
    lat1 = -85 + 170 * rng.random(500)
    lon2 = lon1 + rng.normal(0, 0.01, 500)
    lat2 = lat1 + rng.normal(0, 0.01, 500)
    hv = haversine_m_np(lon1, lat1, lon2, lat2)
    bv = bearing_deg_np(lon1, lat1, lon2, lat2)
    for i in range(500):
        assert hv[i] == haversine_s(lon1[i], lat1[i], lon2[i], lat2[i])
        assert bv[i] == bearing_s(lon1[i], lat1[i], lon2[i], lat2[i])
