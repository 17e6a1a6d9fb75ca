"""Runtime accessibility (vehicle-profile gating) — semantics of
libs/routers_codec/src/osm/mod.rs:200-231 (most-specific mode wins,
directionality match, default allow) and its effect on routing/matching
through the PredicateCache gate (cache.rs:297-315)."""

from __future__ import annotations

import numpy as np

from routers_spark.fixtures.roads import RoadBuilder
from routers_spark.graph.access import TripProfile, accessible
from routers_spark.graph.dijkstra import PredicateCache
from routers_spark.graph.packed import build_packed_graph
from routers_spark.matching.matcher import MatchOptions, candidates_for_points, solve_trip

from dijkstra_oracle import bounded_dijkstra_parents

CAR = TripProfile("motorcar")
TRUCK = TripProfile("hgv")
FOOT = TripProfile("foot")


class TestAccessible:
    def test_default_allow(self):
        assert accessible([], CAR, fwd=True) is True

    def test_simple_no(self):
        assert accessible([("motor_vehicle", "both", "no")], CAR, True) is False
        # foot is not restricted by a motor_vehicle tag
        assert accessible([("motor_vehicle", "both", "no")], FOOT, True) is True

    def test_most_specific_wins(self):
        # all=no but motorcar=yes: motorcar (spec 4) beats all (spec 1)
        tags = [("all", "both", "no"), ("motorcar", "both", "yes")]
        assert accessible(tags, CAR, True) is True
        # for a truck, motorcar doesn't apply -> only all=no applies
        assert accessible(tags, TRUCK, True) is False

    def test_last_max_on_spec_tie(self):
        # Rust max_by_key keeps the LAST maximal element
        tags = [("motorcar", "both", "no"), ("motorcar", "both", "yes")]
        assert accessible(tags, CAR, True) is True
        assert accessible(list(reversed(tags)), CAR, True) is False

    def test_directionality(self):
        tags = [("vehicle", "forward", "no")]
        assert accessible(tags, CAR, fwd=True) is False   # Outgoing matches
        assert accessible(tags, CAR, fwd=False) is True   # Incoming doesn't
        back = [("vehicle", "backward", "no")]
        assert accessible(back, CAR, fwd=True) is True
        assert accessible(back, CAR, fwd=False) is False

    def test_private(self):
        tags = [("motor_vehicle", "both", "private")]
        assert accessible(tags, CAR, True) is False
        assert accessible(tags, TripProfile("motorcar", True), True) is True

    def test_hierarchy_restriction(self):
        # hgv is restricted by goods (on its chain), motorcar is not
        tags = [("goods", "both", "no")]
        assert accessible(tags, TRUCK, True) is False
        assert accessible(tags, CAR, True) is True


def _square_with_shortcut(restrict_shortcut_for=None):
    """A chain 1->2->3->4 with a detour 2->5->3. The direct bridge edge
    (2->3) optionally carries an access restriction, so a transition from
    edge (1->2) to edge (3->4) must route around it."""
    b = (
        RoadBuilder()
        .node(1, -118.100, 34.100)
        .node(2, -118.098, 34.100)
        .node(3, -118.096, 34.100)
        .node(4, -118.094, 34.100)
        .node(5, -118.097, 34.0995)   # detour south of the 2-3 bridge
    )
    b.edge(1, 2).edge(2, 3).edge(3, 4).edge(2, 5).edge(5, 3)
    nodes, edges = b.build()
    edges["fwd"] = True
    edges["access"] = [None] * len(edges)
    if restrict_shortcut_for:
        # restrict the bridge edge (2 -> 3) for the given mode
        i = edges[(edges.src == 2) & (edges.dst == 3)].index[0]
        edges.at[i, "access"] = [
            {"mode": restrict_shortcut_for, "dir": "both", "value": "no"}
        ]
    return nodes, edges


def test_dijkstra_gate_blocks_restricted_edge():
    nodes, edges = _square_with_shortcut(restrict_shortcut_for="motor_vehicle")
    g = build_packed_graph(nodes, edges).build_cell_index()
    idx = {n: int(np.searchsorted(g.node_ids, n)) for n in (1, 2, 3, 4, 5)}
    # ungated: node 3 reached over the direct bridge from node 2
    free = bounded_dijkstra_parents(g, idx[1])
    assert free[idx[3]] == idx[2]
    assert idx[4] in free
    # gated for motorcar: node 3 only reachable via the detour node 5
    gated = bounded_dijkstra_parents(g, idx[1], access_mask=g.access_mask(CAR))
    assert gated[idx[3]] == idx[5]
    assert idx[4] in gated
    # foot profile: restriction does not apply
    foot = bounded_dijkstra_parents(g, idx[1], access_mask=g.access_mask(FOOT))
    assert foot[idx[3]] == idx[2]


def test_match_path_flips_under_profile():
    """The matched transition routes through the restricted edge without a
    profile and around it with one — the reference's runtime-gated
    PredicateCache behavior observed end-to-end through solve_trip."""
    nodes, edges = _square_with_shortcut(restrict_shortcut_for="motor_vehicle")
    g = build_packed_graph(nodes, edges).build_cell_index()
    idx = {n: int(np.searchsorted(g.node_ids, n)) for n in (1, 2, 3, 4, 5)}
    # two observations: on edge (1->2) and on edge (3->4) — the transition
    # must bridge node 2 to node 3
    lons = np.array([-118.0990, -118.0950])
    lats = np.array([34.1000, 34.1000])
    layers = candidates_for_points(g, lons, lats, 60.0, 25.0)
    assert all(len(l["edge_row"]) for l in layers)

    free = solve_trip(g, layers, MatchOptions())
    gated = solve_trip(g, layers, MatchOptions(profile=CAR))
    assert free["status"] == "matched"
    assert gated["status"] == "matched"

    def hop_nodes(result):
        res, rows = result["hops"][0]
        return [(int(g.edge_src[e]), int(g.edge_dst[e])) for e in rows]

    # ungated: bridge over the direct edge 2->3; gated: around via node 5
    assert (idx[2], idx[3]) in hop_nodes(free)
    assert (idx[2], idx[3]) not in hop_nodes(gated)
    assert (idx[2], idx[5]) in hop_nodes(gated)
    assert (idx[5], idx[3]) in hop_nodes(gated)


def test_profile_keyed_cache_no_taint():
    """The reference's TODO (cache.rs:308-313): accessibility isn't in its
    cache key, tainting later queries. Ours keys by profile — the same cache
    serves both gated and ungated queries correctly."""
    nodes, edges = _square_with_shortcut(restrict_shortcut_for="motor_vehicle")
    g = build_packed_graph(nodes, edges).build_cell_index()
    cache = PredicateCache()
    idx = {n: int(np.searchsorted(g.node_ids, n)) for n in (1, 2, 3, 5)}
    gated = cache.query(g, idx[1], CAR)
    free = cache.query(g, idx[1], None)
    n3 = int(np.searchsorted(g.node_ids, 3))
    i_g = int(np.searchsorted(gated.keys, n3))
    i_f = int(np.searchsorted(free.keys, n3))
    assert gated.vals[i_g] == idx[5]
    assert free.vals[i_f] == idx[2]
