"""§2.9 costing injection: custom emission/transition heuristics and ζ/β
decay constants plug into both the batched weigher and the scalar oracle
(tests/test_weigh_vec.py), with identical results (the Strategy trait analog,
costing/util.rs:8-39, how-to costing/mod.rs:23-60)."""

from __future__ import annotations

import numpy as np

from routers_spark.fixtures.roads import grid_network
from routers_spark.graph.dijkstra import PredicateCache
from routers_spark.graph.packed import build_packed_graph
from routers_spark.matching.costing import (
    CostingStrategies,
    Strategy,
    emission_cost_u32,
)
from routers_spark.matching.matcher import (
    MatchOptions,
    candidates_for_points,
    solve_trip,
)
from routers_spark.matching.weigh import weigh_boundaries
from tests.test_weigh_vec import decay_u32_scalar, scalar_matrix


def _graph_and_layers(costing=None):
    nodes, edges = grid_network(8)
    g = build_packed_graph(nodes, edges)
    rng = np.random.default_rng(9)
    lons = -118.4995 + rng.random(6) * 0.012
    lats = 33.7005 + rng.random(6) * 0.012
    layers = candidates_for_points(g, lons, lats, 80.0, 25.0, costing)
    return g, [l for l in layers if len(l["edge_row"])]


def test_decay_constants():
    # ζ scales linearly, β exponentiates — util.rs:29-39 formula
    assert decay_u32_scalar(0.5) == 200
    assert decay_u32_scalar(0.5, zeta=2.0) == 400
    assert decay_u32_scalar(0.5, beta=2.0) == 400
    assert decay_u32_scalar(0.25, zeta=0.5, beta=2.0) == 800
    assert decay_u32_scalar(float("nan")) == decay_u32_scalar(0.0)


def test_custom_emission_changes_candidates():
    flat = CostingStrategies(emission=Strategy(calculate=lambda d, err:
                                               np.full_like(d, 0.5)))
    g, layers = _graph_and_layers()
    _, flat_layers = _graph_and_layers(flat)
    assert any((a["emission"] != b["emission"]).any()
               for a, b in zip(layers, flat_layers)
               if len(a["emission"]) == len(b["emission"]))
    assert all((l["emission"] == 200).all() for l in flat_layers)
    # default strategy object == no strategy
    same = emission_cost_u32(np.array([3.0, 40.0]), 25.0, Strategy())
    base = emission_cost_u32(np.array([3.0, 40.0]), 25.0)
    np.testing.assert_array_equal(same, base)


def test_custom_transition_scalar_vector_agree():
    """A deviance-only β=2 strategy: the batched weigher and the scalar
    oracle must produce identical matrices."""

    def dev_only(straight, route_len, angular, w_s, w_t):
        with np.errstate(invalid="ignore", divide="ignore"):
            d = np.where(route_len <= 0.0, 1.0,
                         straight / np.where(route_len == 0.0, 1.0, route_len))
        return d

    strat = CostingStrategies(transition=Strategy(beta=2.0, calculate=dev_only))
    g, layers = _graph_and_layers()
    cache = PredicateCache()
    mats = weigh_boundaries(g, cache, list(zip(layers, layers[1:])),
                            costing=strat)
    for k, got in enumerate(mats):
        want = scalar_matrix(g, cache, layers[k], layers[k + 1],
                             costing=strat)
        np.testing.assert_array_equal(got, want)


def test_injected_costing_changes_match():
    g, layers = _graph_and_layers()
    base = solve_trip(g, layers, MatchOptions())
    # pathological strategy: prefer LONG detours (inverse deviance)
    def anti_dev(straight, route_len, angular, w_s, w_t):
        with np.errstate(invalid="ignore", divide="ignore"):
            d = np.where(straight <= 0.0, 1.0,
                         route_len / np.where(straight == 0.0, 1.0, straight))
        return np.minimum(d / 10.0, 1.0)

    alt = solve_trip(g, layers, MatchOptions(
        costing=CostingStrategies(transition=Strategy(calculate=anti_dev))))
    assert base["status"] == "matched"
    assert alt["status"] == "matched"
    assert base["cost"] != alt["cost"]
