"""Bit-parity of the compiled boundary weigher (matching/weigh.py) against
the per-pair scalar oracle kept here (``transition_cost`` and its libm
helpers) and the numpy weigher of ``tests/weigh_oracle.py``: the product
path must reproduce both EXACTLY (same IEEE-754 results, same u32
truncations), across random candidate layers on the grid fixture, seeded
corpora with degenerate edges, unreachable leaves, empty layers, profile
gating, injected costing and the selective fan-out; the libm functions
the kernel calls must equal numpy's."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
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
from routers_spark.graph import dijkstra
from routers_spark.graph.access import TripProfile
from routers_spark.graph.dijkstra import PredicateCache
from routers_spark.graph.packed import build_packed_graph
from routers_spark.matching import matcher
from routers_spark.matching.costing import CostingStrategies, Strategy
from routers_spark.matching.matcher import candidates_for_points
from routers_spark.matching.weigh import weigh_boundaries, weigh_flat
from tests import weigh_oracle

from emit_oracle import one_cand, reach

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
        src = one_cand(A, i)
        if fanout is not None and n > fanout:
            d = haversine_m_np(src["px"], src["py"], B["px"], B["py"])
            targets = np.argpartition(d, fanout - 1)[:fanout].tolist()
        else:
            targets = range(n)
        for j in targets:
            cost = transition_cost(graph, cache, src, one_cand(B, j),
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
    g = build_packed_graph(nodes, edges)
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
    g = build_packed_graph(nodes, edges)
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
    g = build_packed_graph(nodes, edges)
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


def test_small_predicate_cache_empties_and_gives_same_matrices(grid_graph):
    """A cache far smaller than the roots in play empties itself wholesale
    whenever a call's misses would overfill it, yet every matrix equals
    the one a roomy cache gives; between calls it never holds more than
    one call's roots past its capacity."""
    g = grid_graph
    rng = np.random.default_rng(23)
    layers = [l for l in _random_layers(g, rng, 30, -118.4995, 33.7005, 0.016)
              if len(l["edge_row"])]
    bs = list(zip(layers, layers[1:]))
    want = weigh_boundaries(g, PredicateCache(), bs)
    small = PredicateCache(capacity=6)
    for k, b in enumerate(bs):
        got = weigh_boundaries(g, small, [b])[0]
        np.testing.assert_array_equal(got, want[k])
        roots = len(np.unique(g.edge_dst[b[0]["edge_row"]]))
        assert small._roots <= max(small.capacity, roots)
    for a, b in zip(weigh_boundaries(g, small, bs), want):
        np.testing.assert_array_equal(a, b)


# ------------------------------------ compiled weigher == numpy oracle


def _corpus_graph(seed: int):
    """A 10 x 10 grid with random class weights, a random tenth of its
    edges closed to motorcars, and degenerate edges hung off random nodes:
    zero-length pairs (NaN headings, NaN candidate fracs) and 0.5 m pairs
    (headings skipped)."""
    rng = np.random.default_rng(seed)
    nodes, edges = grid_network(10)
    extra_n, extra_e = [], []
    nid, eid = int(nodes.node_id.max()) + 1, int(edges.edge_id.max()) + 1
    for k, off in zip(rng.choice(len(nodes), 12, replace=False),
                      [0.0] * 6 + [4.5e-6] * 6):
        lon, lat = nodes.lon.iloc[k], nodes.lat.iloc[k]
        extra_n.append((nid, lon + off, lat))
        for a, b in ((int(nodes.node_id.iloc[k]), nid),
                     (nid, int(nodes.node_id.iloc[k]))):
            extra_e.append((eid, a, b, 1))
        nid, eid = nid + 1, eid + 1
    nodes = pd.concat([nodes, pd.DataFrame(
        extra_n, columns=["node_id", "lon", "lat"])], ignore_index=True)
    edges = pd.concat([edges, pd.DataFrame(
        extra_e, columns=["edge_id", "src", "dst", "weight"])],
        ignore_index=True)
    edges["weight"] = rng.integers(1, 6, len(edges))
    closed = rng.random(len(edges)) < 0.1
    edges["access"] = [[("motor_vehicle", "both", "no")] if c else []
                       for c in closed]
    return build_packed_graph(nodes, edges)


def _corpus(g, rng, n_points: int = 40):
    """Candidate layers of random points over the grid (a few far outside
    it: empty layers; a few beside the degenerate edges), paired as
    consecutive boundaries, random pairs and layers with themselves
    (same-edge ahead and backtrack)."""
    lons = -118.5 + rng.random(n_points) * 0.019
    lats = 33.7 + rng.random(n_points) * 0.019
    lons[rng.random(n_points) < 0.1] += 1.0
    deg = rng.choice(np.flatnonzero(np.isnan(g.edge_heading)), 8)
    lons[:8] = g.ax[deg] + rng.normal(0.0, 2e-4, 8)
    lats[:8] = g.ay[deg] + rng.normal(0.0, 2e-4, 8)
    layers = candidates_for_points(g, lons, lats, 80.0, 25.0)
    pick = rng.integers(0, len(layers), (n_points, 2))
    return (list(zip(layers, layers[1:])) + [(layers[a], layers[b])
                                            for a, b in pick]
            + [(l, l) for l in layers[:8]])


def _stack(boundaries):
    sides = [side for b in boundaries for side in b]
    off = np.concatenate([[0], np.cumsum([len(s["edge_row"])
                                          for s in sides])])
    cols = [np.concatenate([np.asarray(s[c], dtype=dt) for s in sides])
            for c, dt in (("edge_row", np.int64), ("frac", np.float64),
                          ("px", np.float64), ("py", np.float64))]
    return cols, off[0:-1:2], off[1::2], off[2::2]


def _assert_oracle_equal(g, boundaries, threshold_cm=None, **kw):
    cols, lo, mid, hi = _stack(boundaries)
    caches = [PredicateCache() if threshold_cm is None
              else PredicateCache(threshold_cm=threshold_cm) for _ in "ab"]
    got, moff = weigh_flat(g, caches[0], *cols, lo, mid, hi, **kw)
    want, want_off = weigh_oracle.weigh_flat(g, caches[1], *cols, lo, mid,
                                             hi, **kw)
    np.testing.assert_array_equal(moff, want_off)
    assert got.dtype == want.dtype == np.uint32
    np.testing.assert_array_equal(got, want)
    return got


def _dev_only(straight, route_len, angular, w_s, w_t):
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(route_len > 0.0, straight / route_len, np.nan)


_ORACLE_CASES = {
    "default": {},
    "fanout": {"fanout": 2},
    "bound_300m": {"threshold_cm": 30_000},
    "profile": {"profile": TripProfile("motorcar")},
    "injected": {"costing": CostingStrategies(transition=Strategy(
        calculate=_dev_only))},
    "zeta_beta": {"costing": CostingStrategies(transition=Strategy(
        zeta=1.7, beta=1.3))},
    "zeta_only": {"costing": CostingStrategies(transition=Strategy(
        zeta=0.6))},
}


@pytest.mark.parametrize("case", sorted(_ORACLE_CASES))
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_compiled_equals_numpy_oracle(seed, case):
    """Seeded corpora cover NaN fracs and zero-length edges (NaN
    headings), sub-metre edges, same-edge ahead and backtrack, root ==
    leaf, leaves outside a short bound, empty layers, profile gating, the
    selective fan-out, an injected ``calculate``, and ζ / β."""
    g = _corpus_graph(seed)
    boundaries = _corpus(g, np.random.default_rng(100 + seed))
    got = _assert_oracle_equal(g, boundaries, **_ORACLE_CASES[case])
    assert (got != np.uint32(NO_EDGE)).any()


@pytest.mark.parametrize("case", ["default", "bound_300m", "profile"])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_compiled_transition_inputs_equal_oracle(seed, case):
    """The u32 truncation hides most one-ulp differences, so the doubles
    themselves are compared too: an injected ``calculate`` records what
    each weigher hands it (straight line, route length, angular
    complexity, class weights, per pair in cell order), and the compiled
    weigher's must equal the numpy oracle's bit for bit."""
    seen = {}

    def recorder(name):
        def calculate(*cols):
            seen[name] = [np.array(c, copy=True) for c in cols]
            return np.full(len(cols[0]), 0.5)
        return CostingStrategies(transition=Strategy(calculate=calculate))

    g = _corpus_graph(seed)
    cols, lo, mid, hi = _stack(_corpus(g, np.random.default_rng(100 + seed)))
    kw = {k: v for k, v in _ORACLE_CASES[case].items()
          if k != "threshold_cm"}
    bound = _ORACLE_CASES[case].get("threshold_cm")
    for name, fn in (("compiled", weigh_flat),
                     ("oracle", weigh_oracle.weigh_flat)):
        cache = PredicateCache() if bound is None else PredicateCache(
            threshold_cm=bound)
        fn(g, cache, *cols, lo, mid, hi, costing=recorder(name), **kw)
    assert len(seen["compiled"][0]) > 300
    for got, want in zip(seen["compiled"], seen["oracle"]):
        np.testing.assert_array_equal(got.view(np.int64), want.view(np.int64))


def test_corpus_reaches_every_case():
    """The corpora above contain what their test names: NaN fracs, NaN
    headings, empty layers, direct and backtracking same-edge pairs,
    root == leaf pairs and leaves outside the 300 m bound."""
    g = _corpus_graph(0)
    boundaries = _corpus(g, np.random.default_rng(100))
    assert np.isnan(g.edge_heading).any()
    cols, lo, mid, hi = _stack(boundaries)
    er, frac = cols[0], cols[1]
    assert np.isnan(frac).any()
    assert ((mid == lo) | (hi == mid)).any()
    pairs = [(i, j) for a, b, c in zip(lo, mid, hi)
             for i in range(a, b) for j in range(b, c)]
    src, tgt = np.array(pairs).T
    same = er[src] == er[tgt]
    assert (same & (frac[src] <= frac[tgt])).any()
    assert (same & (frac[src] > frac[tgt])).any()
    assert (g.edge_dst[er[src]] == g.edge_src[er[tgt]]).any()
    cache = PredicateCache(threshold_cm=30_000)
    _, _, member = cache.locate(g, g.edge_dst[er[src]], g.edge_src[er[tgt]])
    assert not member.all()


def test_compiled_equals_numpy_oracle_on_benchmark_chunks():
    """The perfbench grid's walks (seed 1's first 120 trips) through
    ``_solve_trips`` with the pair budget cut small: every weigh_flat call
    equals the oracle's, and the chunked solve equals one call per
    batch."""
    import importlib.util
    import sys
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "perfbench" / "inputs.py"
    spec = importlib.util.spec_from_file_location("perfbench_inputs", path)
    I = sys.modules[spec.name] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(I)

    nodes, edges = I.grid_network()
    g = build_packed_graph(nodes, edges)
    trips = I.walk_trips(nodes, edges, 120, 1)
    opts = matcher.MatchOptions()
    t = matcher._broadcast_trips(trips.trip_id.values, trips.seq.values,
                                 trips.lon.values, trips.lat.values, g, opts)
    calls = []

    def checked(graph, cache, *a, **k):
        want = weigh_oracle.weigh_flat(graph, PredicateCache(), *a, **k)
        got = weigh_flat(graph, cache, *a, **k)
        for x, y in zip(got, want):
            np.testing.assert_array_equal(x, y)
        calls.append(len(got[0]))
        return got

    out = {}
    for budget in (500, 10 ** 9):
        matcher.GLOBAL_PREDICATE_CACHE.__init__()
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(matcher, "WEIGH_PAIR_BUDGET", budget)
            mp.setattr(matcher, "weigh_flat", checked)
            out[budget] = matcher._solve_trips(g, t, opts, "discretized")
    assert len(calls) > 10
    pd.testing.assert_frame_equal(out[500], out[10 ** 9])


def test_weigh_rejects_bad_offsets_and_rows():
    """The kernel trusts its offsets: bad lo/mid/hi, edge rows, matrix
    offsets, keep masks and lanes raise ValueError before the C call."""
    g = build_packed_graph(*grid_network(4))
    er = np.array([0, 1, 2, 3], dtype=np.int64)
    f = np.array([0.1, 0.2, 0.3, 0.4])
    cache = PredicateCache()
    ok = weigh_flat(g, cache, er, f, f, f, [0], [2], [4])[0]
    assert len(ok) == 4
    for lo, mid, hi in (([0], [3], [2]), ([-1], [1], [2]), ([0], [2], [5]),
                        ([0, 1], [2], [4]), ([2], [1], [4])):
        with pytest.raises(ValueError):
            weigh_flat(g, cache, er, f, f, f, lo, mid, hi)
    for bad in (np.array([0, 1, 2, len(g.edge_id)]), np.array([0, -1, 2, 3])):
        with pytest.raises(ValueError):
            weigh_flat(g, cache, bad, f, f, f, [0], [2], [4])
    with pytest.raises(ValueError):
        weigh_flat(g, cache, er, f[:3], f, f, [0], [2], [4])
    moff = np.array([0, 4], dtype=np.int64)
    for kw in ({"moff": np.array([0, 5])}, {"keep": np.ones(3, bool)}):
        args = {"moff": moff, "keep": None, **kw}
        with pytest.raises(ValueError):
            dijkstra.WeighCall(g, cache, er, f, f, f, np.array([0]),
                               np.array([2]), np.array([4]), args["moff"],
                               args["keep"])
    n = len(g.node_ids)
    for roots, leaves in (([0, n], [1, 1]), ([-1], [0]), ([0], [n]),
                          ([0, 1], [0])):
        with pytest.raises(ValueError):
            cache.locate(g, roots, leaves)


_LIBM = {"sin": (0, np.sin), "cos": (1, np.cos), "sqrt": (2, np.sqrt),
         "fmod": (3, np.fmod), "radians": (4, np.radians),
         "degrees": (5, np.degrees), "remainder": (6, np.remainder)}


def _libm_inputs(name: str, rng) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << 20
    if name in ("sin", "cos"):
        x = np.concatenate([
            np.radians(-118.6 + 0.2 * rng.random(n // 4)),    # grid lon
            np.radians(33.6 + 0.2 * rng.random(n // 4)),      # grid lat
            rng.normal(0.0, 1e-4, n // 4),                    # half deltas
            rng.uniform(-2 * np.pi, 2 * np.pi, n // 4)])      # bearings
    elif name == "sqrt":
        x = np.concatenate([rng.random(n // 2) * 1e-8, rng.random(n // 2)])
    elif name in ("radians", "degrees"):
        x = np.concatenate([-118.6 + 0.2 * rng.random(n // 4),
                            33.6 + 0.2 * rng.random(n // 4),
                            rng.uniform(-np.pi, np.pi, n // 4),
                            rng.uniform(-360.0, 360.0, n // 4)])
    else:
        x = np.concatenate([rng.uniform(-720.0, 720.0, n // 2),
                            rng.uniform(-180.0, 180.0, n // 2)])
    return x, np.full(len(x), 360.0)


@pytest.mark.parametrize("name", sorted(_LIBM))
def test_kernel_libm_equals_numpy(name):
    """The functions the compiled weigher takes from libm (and its degree /
    radian multiplies and Python-style remainder) equal numpy's on 1M seeded
    inputs that include the grid's coordinate range. A host whose numpy
    sends one of them to a SIMD loop that differs fails here, loudly,
    instead of changing matches."""
    op, ref = _LIBM[name]
    x, y = _libm_inputs(name, np.random.default_rng(17))
    got = np.empty_like(x)
    dijkstra._LIB.bd_libm(op, len(x), x.ctypes.data, y.ctypes.data,
                          got.ctypes.data)
    want = ref(x, y) if name in ("fmod", "remainder") else ref(x)
    diff = np.flatnonzero(got.view(np.int64) != want.view(np.int64))
    assert len(diff) == 0, (name, len(diff), x[diff[:3]])
