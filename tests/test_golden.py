"""Tier-3 golden parity (SURVEY §5): frozen matched-edge sequences + costs
for seeded fixture trips — the analog of the reference's VENTURA_MATCHED
way-id arrays (libs/routers_fixtures/src/lib.rs:32). Any change to costing,
candidate ordering, tie-breaks, or geometry kernels that alters a match
shows up here byte-for-byte."""

import json
import os

import pytest

from routers_spark.fixtures.roads import grid_network, t_junction, walk_trips
from routers_spark.graph.packed import build_packed_graph
from routers_spark.matching.matcher import (
    MatchOptions,
    candidates_for_points,
    solve_trip,
)

GOLDEN = json.load(open(os.path.join(os.path.dirname(__file__),
                                     "golden_matches.json")))


def run_match(g, pts):
    opts = MatchOptions()
    lons, lats = zip(*pts)
    layers = candidates_for_points(g, lons, lats, opts.search_distance,
                                   opts.emission_error)
    r = solve_trip(g, layers, opts)
    out = {"status": r["status"]}
    if r["status"] == "matched":
        out["edges"] = [int(g.edge_id[layers[k]["edge_row"][r["path"][k]]])
                        for k in range(len(r["path"]))]
        out["cost"] = r["cost"]
    return out


def test_grid_trip_goldens():
    nodes, edges = grid_network(20)
    g = build_packed_graph(nodes, edges)
    trips = walk_trips(nodes, edges, n_trips=10, points_per_trip=12, seed=123)
    for tid, grp in trips.groupby("trip_id"):
        got = run_match(g, list(zip(grp.lon, grp.lat)))
        assert got == GOLDEN[tid], tid


def test_t_junction_golden():
    nodes, edges = t_junction()
    g = build_packed_graph(nodes, edges)
    track = [(-118.101, 34.1503), (-118.111, 34.1503), (-118.121, 34.1503),
             (-118.131, 34.1503), (-118.141, 34.1503), (-118.151, 34.1503),
             (-118.158, 34.1503)]
    assert run_match(g, track) == GOLDEN["t_junction"]
