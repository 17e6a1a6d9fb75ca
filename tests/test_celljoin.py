"""Cell-join candidate path ≡ broadcast path: identical candidates and
identical matches (the padding-duplication boundary-correctness proof,
O11/X8)."""

import numpy as np
import pandas as pd
import pytest

from routers_spark.fixtures.roads import grid_network, walk_trips
from routers_spark.matching.matcher import match_trips


@pytest.fixture(scope="module")
def inputs(spark):
    nodes, edges = grid_network(15)
    trips = walk_trips(nodes, edges, n_trips=8, points_per_trip=8, seed=21)
    return (
        spark.createDataFrame(trips),
        spark.createDataFrame(nodes),
        spark.createDataFrame(edges),
    )


def _sorted(df):
    pdf = df.toPandas().sort_values(["trip_id", "seq"]).reset_index(drop=True)
    return pdf


def test_celljoin_matches_broadcast(spark, inputs):
    points_df, nodes_df, edges_df = inputs
    a = _sorted(match_trips(points_df, nodes_df, edges_df,
                            candidate_path="broadcast"))
    b = _sorted(match_trips(points_df, nodes_df, edges_df,
                            candidate_path="celljoin"))
    pd.testing.assert_frame_equal(a, b)


def test_celljoin_with_salt_matches(spark, inputs):
    points_df, nodes_df, edges_df = inputs
    a = _sorted(match_trips(points_df, nodes_df, edges_df,
                            candidate_path="celljoin"))
    b = _sorted(match_trips(points_df, nodes_df, edges_df,
                            candidate_path="celljoin", salt=4))
    pd.testing.assert_frame_equal(a, b)


def test_celljoin_candidate_sets_match_boxquery(spark, inputs):
    from routers_spark.graph.packed import build_packed_graph
    from routers_spark.matching.matcher import MatchOptions, candidates_for_points
    from routers_spark.shard.partition import candidates_cell_join

    points_df, nodes_df, edges_df = inputs
    cand = candidates_cell_join(points_df, nodes_df, edges_df).toPandas()
    g = build_packed_graph(nodes_df.toPandas(), edges_df.toPandas())
    opts = MatchOptions()
    pts = points_df.toPandas()
    layers = candidates_for_points(g, pts.lon.values, pts.lat.values,
                                   opts.search_distance, opts.emission_error)
    for (_, r), local in zip(pts.iterrows(), layers):
        # the distributed path carries the natural (edge_id, src, dst) key;
        # the packed graph's rows are triple-sorted, so sorting by the
        # triple reproduces the graph's candidate order exactly
        dist = cand[(cand.trip_id == r.trip_id) & (cand.seq == r.seq)
                    & (cand.edge_id >= 0)].sort_values(
                        ["edge_id", "src", "dst"])
        rows = np.asarray(local["edge_row"], dtype=np.int64)
        exp = list(zip(g.edge_id[rows],
                       g.node_ids[g.edge_src[rows]],
                       g.node_ids[g.edge_dst[rows]]))
        got = list(zip(dist["edge_id"], dist["src"], dist["dst"]))
        assert got == exp, (r.trip_id, r.seq)
        if len(dist):
            np.testing.assert_allclose(dist["px"].values, local["px"], atol=1e-12)
            np.testing.assert_array_equal(dist["emission"].values,
                                          local["emission"].astype(np.int64))


def test_celljoin_never_collects_graph(spark, inputs, monkeypatch):
    """The celljoin path's stated purpose is graphs too big to broadcast:
    no driver-side materialization of ANY kind may happen in its plan
    construction or execution — no toPandas, no collect, and no
    approxQuantile/summary jobs (the pre-r5 global dense rank ran an
    approxQuantile pass + a counts collect over the FULL edge table per
    query; the rankless rewrite must never regress to that)."""
    from pyspark.sql import DataFrame as SparkDF

    points_df, nodes_df, edges_df = inputs

    def guard_name(name):
        def guard(self, *a, **k):
            raise AssertionError(f"driver-side {name} in celljoin path")
        return guard

    monkeypatch.setattr(SparkDF, "toPandas", guard_name("toPandas"))
    monkeypatch.setattr(SparkDF, "collect", guard_name("collect"))
    monkeypatch.setattr(SparkDF, "approxQuantile", guard_name("approxQuantile"))
    out = match_trips(points_df, nodes_df, edges_df, candidate_path="celljoin")
    assert out.count() > 0  # executes end-to-end with zero driver jobs


def test_celljoin_plan_has_no_global_window(spark, inputs):
    """Scale guard (round-2 verdict #2): nothing may funnel the edge table
    through a single-partition Window — the celljoin physical plan must
    contain NO Window node at all (edges keep their natural
    (edge_id, src, dst) key; no rank is computed)."""
    points_df, nodes_df, edges_df = inputs
    out = match_trips(points_df, nodes_df, edges_df, candidate_path="celljoin")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "global Window crept back into celljoin plan"


def test_celljoin_honours_injected_emission(spark):
    """An injected emission strategy (§2.9) prices candidates on BOTH
    paths: a constant heuristic of 0.5 gives every candidate the same
    emission, so celljoin must agree with broadcast row for row."""
    from routers_spark.matching.costing import CostingStrategies, Strategy
    from routers_spark.matching.matcher import MatchOptions

    nodes, edges = grid_network(10)
    trips = walk_trips(nodes, edges, n_trips=6, points_per_trip=6, seed=3)
    points_df = spark.createDataFrame(trips)
    nodes_df = spark.createDataFrame(nodes)
    edges_df = spark.createDataFrame(edges)
    opts = MatchOptions(costing=CostingStrategies(emission=Strategy(
        calculate=lambda d, e: np.full_like(d, 0.5))))
    a = _sorted(match_trips(points_df, nodes_df, edges_df, opts=opts,
                            candidate_path="broadcast"))
    b = _sorted(match_trips(points_df, nodes_df, edges_df, opts=opts,
                            candidate_path="celljoin"))
    assert (a["status"] == "matched").all()
    assert (a["emission"] == 200).all()
    cols = ["trip_id", "seq", "edge_id", "emission", "trip_cost", "status"]
    pd.testing.assert_frame_equal(a[cols], b[cols])


@pytest.mark.slow
def test_celljoin_graph_churn_id_reuse(spark):
    """Regression: per-trip subgraphs are created and freed by the hundreds
    inside one worker; caches keyed by id(graph) served a DEAD graph's
    adjacency to its id-successor (IndexError at sf0.1 — or silently wrong
    transitions when sizes lined up). Caches now key by graph.uid / attach
    to the graph object. 300 trips through the celljoin path must match
    the broadcast path exactly."""
    from routers_spark.fixtures.roads import grid_network, walk_trips
    from routers_spark.matching.matcher import match_trips

    nodes, edges = grid_network(30)
    trips = walk_trips(nodes, edges, n_trips=300, points_per_trip=10, seed=9)
    points = spark.createDataFrame(trips)
    nodes_df = spark.createDataFrame(nodes)
    edges_df = spark.createDataFrame(edges)
    cj = match_trips(points, nodes_df, edges_df,
                     candidate_path="celljoin").toPandas()
    bc = match_trips(points, nodes_df, edges_df).toPandas()
    key = ["trip_id", "seq"]
    cj = cj.sort_values(key).reset_index(drop=True)
    bc = bc.sort_values(key).reset_index(drop=True)
    assert (cj["edge_id"].values == bc["edge_id"].values).all()
    assert (cj["status"].values == bc["status"].values).all()


def trip_subgraph_edges(points_df, nodes_df, edges_df, pad_m: float,
                        cell_deg: float = 0.02):
    """Per-trip oracle of ``sig_subgraph_edges``: every edge whose
    ``pad_m``-padded bbox shares a coarse cell with any of the trip's
    points — the shard-build admit rule (P4/P5, selection.rs:52-96 /
    network.rs:110-169) applied trip by trip over the WHOLE edge table, with
    no region prune. Output: (trip_id, edge_id, src, dst), one row per
    natural edge key and trip."""
    from routers_spark.shard.partition import edges_with_cover_cells, point_cells

    n = nodes_df.select("node_id", "lon", "lat")
    coords = (edges_df.select("edge_id", "src", "dst", "weight")
              .join(n.toDF("src", "ax", "ay"), "src")
              .join(n.toDF("dst", "bx", "by"), "dst"))
    tcells = point_cells(
        points_df.select("trip_id", "lon", "lat"), cell_deg
    ).select("trip_id", "cx", "cy").distinct()
    return (
        tcells.join(edges_with_cover_cells(coords, cell_deg, pad_m=pad_m),
                    ["cx", "cy"])
        .select("trip_id", "edge_id", "src", "dst")
        .dropDuplicates()
    )


def test_sig_subgraphs_equal_per_trip_subgraphs(spark):
    """The shared per-signature subgraph must admit exactly the edges the
    per-trip form admits, for every trip (they apply the same P4/P5 rule —
    sharing is pure dedup, never a semantic change — and the region prune
    in front of the signature form drops no admitted edge)."""
    from routers_spark.fixtures.roads import grid_network, walk_trips
    from routers_spark.shard.partition import (
        sig_subgraph_edges,
        trip_cover_sigs_cells,
    )

    nodes, edges = grid_network(15)
    trips = walk_trips(nodes, edges, n_trips=40, points_per_trip=8, seed=4)
    points = spark.createDataFrame(trips)
    nodes_df = spark.createDataFrame(nodes)
    edges_df = spark.createDataFrame(edges)
    pad = 500.0
    per_trip = trip_subgraph_edges(points, nodes_df, edges_df,
                                   pad_m=pad).toPandas()
    sigs = trip_cover_sigs_cells(points).select("trip_id", "sig").toPandas()
    per_sig = sig_subgraph_edges(points, nodes_df, edges_df, pad_m=pad) \
        .select("sig", "edge_id", "src", "dst").toPandas()

    def key_sets(pdf, by):
        pdf = pdf.assign(k=list(zip(pdf.edge_id, pdf.src, pdf.dst)))
        return pdf.groupby(by)["k"].apply(set).to_dict()

    sig_edges = key_sets(per_sig, "sig")
    trip_edges = key_sets(per_trip, "trip_id")
    for _, r in sigs.iterrows():
        assert trip_edges.get(r["trip_id"], set()) == \
            sig_edges.get(r["sig"], set()), r["trip_id"]


def test_celljoin_solve_salt_matches(spark, inputs):
    """The hot-signature sub-split (solve_salt) must not change results:
    every sub-group rebuilds the identical shared subgraph, so salted ≡
    unsalted ≡ broadcast."""
    points_df, nodes_df, edges_df = inputs
    a = _sorted(match_trips(points_df, nodes_df, edges_df))
    b = _sorted(match_trips(points_df, nodes_df, edges_df,
                            candidate_path="celljoin", solve_salt=3))
    pd.testing.assert_frame_equal(a, b)


def test_celljoin_near_miss_unanchored_parity(spark):
    """Round-4 verdict #1 regression: a point whose cell-joined edges ALL
    fail the bbox refine (same 0.002-deg cell, outside the 50 m box) must
    surface as an EMPTY candidate layer, so the all-or-nothing contract
    (matcher/entity.rs:143-193) rejects the whole trip on the celljoin
    path exactly as on broadcast — not silently solve the shortened trip."""
    nodes = pd.DataFrame({"node_id": [1, 2],
                          "lon": [-118.500, -118.499],
                          "lat": [33.0, 33.0]})
    edges = pd.DataFrame({"edge_id": [10], "src": [1], "dst": [2],
                          "weight": [9300]})
    # point 0 is on the edge; point 1 is ~100 m north — inside the same
    # coarse cell (so the cell join pairs it) but outside the 50 m square
    pts = pd.DataFrame({"trip_id": ["t", "t"], "seq": [0, 1],
                        "lon": [-118.4995, -118.4995],
                        "lat": [33.00001, 33.0009]})
    points_df = spark.createDataFrame(pts)
    nodes_df = spark.createDataFrame(nodes)
    edges_df = spark.createDataFrame(edges)
    a = match_trips(points_df, nodes_df, edges_df,
                    candidate_path="broadcast").toPandas()
    b = match_trips(points_df, nodes_df, edges_df,
                    candidate_path="celljoin").toPandas()
    assert list(a["status"]) == ["unanchored"]
    assert list(b["status"]) == ["unanchored"]
    pd.testing.assert_frame_equal(_sorted(spark.createDataFrame(a)),
                                  _sorted(spark.createDataFrame(b)))


def test_celljoin_outlier_property_sweep(spark):
    """Round-5 robustness sweep (verdict Next #5): 100 random trips over a
    sparse grid, a third of them carrying injected GPS outliers (points
    moved to cell centres ~90-110 m from any edge — near-miss refine
    drops), plus trips fully off-network. Broadcast and celljoin must
    agree row-for-row INCLUDING statuses."""
    nodes, edges = grid_network(12)
    trips = walk_trips(nodes, edges, n_trips=100, points_per_trip=8,
                       seed=505)
    rng = np.random.default_rng(77)
    # outliers: push one point per selected trip to a grid-cell centre
    # (0.001 deg diagonal offset = ~92-111 m from every edge, > 50 m box,
    # same/adjacent coarse cell -> exercises the refine-drop path)
    tids = trips["trip_id"].unique()
    for t in rng.choice(tids, size=33, replace=False):
        rows = np.flatnonzero((trips["trip_id"] == t).values)
        r = rows[rng.integers(0, len(rows))]
        trips.loc[r, "lon"] = round(
            (trips.loc[r, "lon"] + 118.5) / 0.002) * 0.002 - 118.5 + 0.001
        trips.loc[r, "lat"] = round(
            (trips.loc[r, "lat"] - 33.7) / 0.002) * 0.002 + 33.7 + 0.001
    # two trips fully off-network (~1 km east of the grid)
    off = trips[trips["trip_id"].isin(tids[:2])].copy()
    off["trip_id"] = off["trip_id"] + "_off"
    off["lon"] = off["lon"] + 0.05
    trips = pd.concat([trips, off], ignore_index=True)

    points_df = spark.createDataFrame(trips)
    nodes_df = spark.createDataFrame(nodes)
    edges_df = spark.createDataFrame(edges)
    a = _sorted(match_trips(points_df, nodes_df, edges_df,
                            candidate_path="broadcast"))
    b = _sorted(match_trips(points_df, nodes_df, edges_df,
                            candidate_path="celljoin"))
    # the sweep must actually exercise every status class
    assert (a["status"] == "unanchored").any()
    assert (a["status"] == "matched").any()
    pd.testing.assert_frame_equal(a, b)


def test_celljoin_high_latitude_parity_sweep(spark):
    """High-latitude variant of the sweep (verdict Next #5): at lat 64 a
    degree of longitude is ~49 km (cos-lat 0.44), so the equirectangular
    pad in sig_subgraph_edges (matcher.py, cos-lat from edge endpoints)
    and the square-box refine both run far from their small-angle comfort
    zone. 40 trips with injected near-miss outliers; broadcast ≡ celljoin
    row-for-row including statuses."""
    nodes, edges = grid_network(10, lat0=64.0, lon0=17.0)
    trips = walk_trips(nodes, edges, n_trips=40, points_per_trip=8,
                       seed=909)
    rng = np.random.default_rng(11)
    tids = trips["trip_id"].unique()
    for t in rng.choice(tids, size=13, replace=False):
        rows = np.flatnonzero((trips["trip_id"] == t).values)
        r = rows[rng.integers(0, len(rows))]
        # push the point to a cell centre: at lat 64 the lon offset is
        # only ~49 m east but the lat offset keeps it >50 m from the
        # lattice -> near-miss refine drop, same coarse cell
        trips.loc[r, "lon"] = round(
            (trips.loc[r, "lon"] - 17.0) / 0.002) * 0.002 + 17.0 + 0.001
        trips.loc[r, "lat"] = round(
            (trips.loc[r, "lat"] - 64.0) / 0.002) * 0.002 + 64.0 + 0.001
    points_df = spark.createDataFrame(trips)
    nodes_df = spark.createDataFrame(nodes)
    edges_df = spark.createDataFrame(edges)
    a = _sorted(match_trips(points_df, nodes_df, edges_df,
                            candidate_path="broadcast"))
    b = _sorted(match_trips(points_df, nodes_df, edges_df,
                            candidate_path="celljoin"))
    assert (a["status"] == "matched").any()
    pd.testing.assert_frame_equal(a, b)
