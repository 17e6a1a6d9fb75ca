"""Spark-level end-to-end map matching: match_trips over DataFrames with the
broadcast packed graph, both output modes, distributed determinism."""

import pandas as pd
import pytest

from routers_spark.fixtures.roads import grid_network, straight_road, walk_trips
from routers_spark.matching.matcher import MatchOptions, match_trips


@pytest.fixture(scope="module")
def grid(spark):
    nodes, edges = grid_network(20)
    trips = walk_trips(nodes, edges, n_trips=12, points_per_trip=10, seed=11)
    return (
        spark.createDataFrame(trips),
        spark.createDataFrame(nodes),
        spark.createDataFrame(edges),
        trips,
    )


def test_match_trips_discretized(spark, grid):
    points_df, nodes_df, edges_df, trips_pdf = grid
    out = match_trips(points_df, nodes_df, edges_df).toPandas()
    matched = out[out.status == "matched"]
    assert len(matched) > 0
    # one output row per input point for matched trips
    per_trip_in = trips_pdf.groupby("trip_id").size()
    per_trip_out = matched.groupby("trip_id").size()
    for tid, n in per_trip_out.items():
        assert n == per_trip_in[tid]
    # every matched point snapped within the 50 m + jitter envelope
    assert (matched["dist_m"] < 60).all()


def test_match_trips_interpolated(spark, grid):
    points_df, nodes_df, edges_df, _ = grid
    out = match_trips(points_df, nodes_df, edges_df,
                      output="interpolated").toPandas()
    matched = out[out.status == "matched"]
    assert len(matched) > 0
    # no consecutive duplicate points within a trip (route.rs:131 dedup)
    for _, grp in matched.groupby("trip_id"):
        grp = grp.sort_values("elem")
        pts = list(zip(grp.lon, grp.lat))
        assert all(pts[i] != pts[i + 1] for i in range(len(pts) - 1))


def test_match_trips_deterministic_across_runs(spark, grid):
    points_df, nodes_df, edges_df, _ = grid
    a = match_trips(points_df, nodes_df, edges_df).toPandas()
    b = match_trips(points_df, nodes_df, edges_df).toPandas()
    a = a.sort_values(["trip_id", "seq"]).reset_index(drop=True)
    b = b.sort_values(["trip_id", "seq"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


@pytest.mark.parametrize("output",
                         ["discretized", "interpolated", "gate_union"])
def test_match_trips_split_across_arrow_batches(spark, output):
    """Broadcast solver batches carry a trip split across Arrow batch
    boundaries into the next batch: tiny batches must give the same rows
    as the session default."""
    nodes, edges = grid_network(12)
    trips = walk_trips(nodes, edges, n_trips=20, points_per_trip=10, seed=5)
    args = (spark.createDataFrame(trips), spark.createDataFrame(nodes),
            spark.createDataFrame(edges))

    def run():
        out = match_trips(*args, output=output).toPandas()
        return out.sort_values(list(out.columns)).reset_index(drop=True)

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = run()
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "7")
        small = run()
    finally:
        spark.conf.set(conf, prev)
    assert len(default) > 0
    pd.testing.assert_frame_equal(default, small)


_PATHS_OUTPUTS = pytest.mark.parametrize(
    "candidate_path,output",
    [(p, o) for p in ("broadcast", "celljoin")
     for o in ("discretized", "interpolated")])


@_PATHS_OUTPUTS
def test_match_trips_statuses(spark, candidate_path, output):
    nodes, edges = straight_road()
    pts = pd.DataFrame({
        "trip_id": ["ok", "ok", "bad", "bad"],
        "seq": [0, 1, 0, 1],
        "lon": [-118.151, -118.165, -118.151, 0.0],
        "lat": [34.1503, 34.1503, 34.1503, 0.0],
    })
    out = match_trips(
        spark.createDataFrame(pts),
        spark.createDataFrame(nodes),
        spark.createDataFrame(edges),
        output=output, candidate_path=candidate_path,
    ).toPandas()
    by_trip = {t: set(g.status) for t, g in out.groupby("trip_id")}
    assert by_trip["ok"] == {"matched"}
    assert by_trip["bad"] == {"unanchored"}
    # a non-matched trip is exactly one status row
    bad = out[out.trip_id == "bad"]
    assert len(bad) == 1
    assert bad.edge_id.iloc[0] == -1
    if output == "interpolated":
        assert bad.elem.iloc[0] == -1
        assert bad.kind.iloc[0] == "none"


@_PATHS_OUTPUTS
def test_match_trips_drop_unanchored(spark, candidate_path, output):
    nodes, edges = straight_road()
    pts = pd.DataFrame({
        "trip_id": ["t"] * 3,
        "seq": [0, 1, 2],
        "lon": [-118.151, 0.0, -118.165],
        "lat": [34.1503, 0.0, 34.1503],
    })
    out = match_trips(
        spark.createDataFrame(pts),
        spark.createDataFrame(nodes),
        spark.createDataFrame(edges),
        MatchOptions(drop_unanchored=True),
        output=output, candidate_path=candidate_path,
    ).toPandas()
    assert set(out.status) == {"matched"}
    assert (out.edge_id >= 0).all()
    if output == "discretized":
        assert sorted(out.seq) == [0, 2]


def test_broadcast_guard_rejects_big_graph(spark, grid):
    """A graph past the broadcast envelope must refuse the driver collect
    and point at the celljoin scale path instead of OOMing the driver."""
    points_df, nodes_df, edges_df, _ = grid
    with pytest.raises(ValueError, match="celljoin"):
        match_trips(points_df, nodes_df, edges_df, broadcast_limit_rows=10)
    # at/below the limit the path still works
    out = match_trips(points_df, nodes_df, edges_df,
                      broadcast_limit_rows=10_000_000).toPandas()
    assert (out.status == "matched").any()


def test_map_match_exact_premise_single_candidate(spark):
    """The driver gate's degenerate premise: EVERY corridor point's search
    box admits exactly one edge (emission-only solve). If a radius or
    fixture change breaks this, the gate's closed-form oracle is invalid —
    fail here, loudly, not in the driver record."""
    import numpy as np

    from routers_spark.graph.packed import build_packed_graph
    from routers_spark.matching.matcher import (
        MatchOptions,
        candidates_for_points,
    )
    from routers_spark.queries import _mme_points_sql

    pts = spark.sql(
        _mme_points_sql().replace(
            "FROM events",
            "FROM (SELECT explode(sequence(0, 999)) AS event_id)")
    ).toPandas()
    r = np.arange(40)
    import pandas as pd
    nodes = pd.DataFrame({
        "node_id": np.concatenate([2 * r, 2 * r + 1]),
        "lon": np.concatenate([np.full(40, -118.5), np.full(40, -118.4)]),
        "lat": np.concatenate([33.0 + r * 0.02] * 2),
    })
    edges = pd.DataFrame({"edge_id": r, "src": 2 * r, "dst": 2 * r + 1,
                          "weight": np.full(40, 10)})
    g = build_packed_graph(nodes, edges).build_cell_index()
    opts = MatchOptions()
    cands = candidates_for_points(g, pts["lon"].values, pts["lat"].values,
                                  opts.search_distance, opts.emission_error)
    counts = np.array([len(c["edge_row"]) for c in cands])
    assert (counts == 1).all()
    # and the admitted edge is the point's own road
    rows = np.array([c["edge_row"][0] for c in cands])
    assert (g.edge_id[rows] == pts["road"].values).all()


def test_driver_registry_holds_fifty_entries():
    """Round-3's driver record truncated at 50 rows; round 5 registers 52
    (cell_encode_s2 and raster_zonal_stats joined) with the sacrificial
    rows-only entries at the exact tail — if the cap still holds, the
    loss lands on map_match_discretized + map_match_celljoin (both
    rows-only perf rows, facade gated by their hash-green exact twins)
    per the ordering queries() keeps. Every oracle name and every
    engine override must belong to a registered query."""
    from routers_spark import queries as Q

    qs = Q.queries()
    os_ = Q.oracle_sql()
    assert len(qs) == 52
    assert "cell_encode_s2" in os_
    assert "raster_zonal_stats" in os_
    # the tail rows are the documented cheapest drops
    assert list(qs)[-2:] == ["map_match_discretized", "map_match_celljoin"]
    assert set(os_) <= set(qs)
    names = list(qs)
    # the historically-truncated ANN rows sit ahead of the other
    # rows-only entries, away from the registry tail
    rows_only = [n for n in names if n not in os_]
    assert rows_only.index("ann_ivf_topk") < 2
    assert rows_only.index("ann_lsh_topk") < 2
    # an override for a name queries() never exposes is dead code
    assert set(Q._SPARK_OVERRIDES) <= set(Q.queries())


def test_engine_gates_run_the_engine():
    """Anti-vacuous-gate guard (review-2 catch): every oracle-gated query
    whose docstring claims the Spark side runs the REAL engine must have a
    _SPARK_OVERRIDES entry — otherwise spark_fn falls back to executing
    the oracle SQL on both engines and the gate compares the oracle to
    itself."""
    from routers_spark import queries as Q

    engine_gates = [
        "maxspeed_parse", "access_parse", "opening_hours_parse",
        "map_match_exact", "map_match_exact_celljoin",
        "dbscan_clusters", "mvt_point_tiles", "audio_window_features",
        "image_features", "image_resize", "video_frame_sample",
        "raster_pyramid_tiles", "ann_lsh_exact", "ann_ivf_exact",
        "osm_pbf_way_expansion", "embedding_dedup",
        "minhash_dedup_pipeline", "zone_bbox_lookup",
        "cell_encode_s2",
    ]
    missing = [n for n in engine_gates if n not in Q._SPARK_OVERRIDES]
    assert not missing, missing


@pytest.mark.parametrize("candidate_path", ["broadcast", "celljoin"])
def test_nan_point_fails_only_its_own_trip(spark, candidate_path):
    """A NaN coordinate gives its point no candidate: its own trip reports
    unanchored, and a good trip solved in the same task (one shuffle
    partition) still matches."""
    nodes, edges = grid_network(12)
    trips = walk_trips(nodes, edges, n_trips=2, points_per_trip=6, seed=3)
    tids = sorted(trips.trip_id.unique())
    bad = (trips.trip_id == tids[0]) & (trips.seq == 2)
    trips.loc[bad, "lat"] = float("nan")
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        out = match_trips(
            spark.createDataFrame(trips), spark.createDataFrame(nodes),
            spark.createDataFrame(edges),
            candidate_path=candidate_path).toPandas()
    finally:
        spark.conf.set(key, prev)
    by_trip = {t: set(g.status) for t, g in out.groupby("trip_id")}
    assert by_trip == {tids[0]: {"unanchored"}, tids[1]: {"matched"}}
    assert len(out[out.trip_id == tids[1]]) == 6


def test_workers_keep_two_hydrated_graphs(spark, grid):
    """Ten match_trips calls broadcast ten graphs; every Python worker
    then holds at most the last two hydrated graphs and at most two
    predicate-cache arenas, its root count equal to the roots they hold."""
    points_df, nodes_df, edges_df, _ = grid
    for _ in range(10):
        assert len(match_trips(points_df, nodes_df, edges_df).toPandas())

    def probe(batches):
        import os

        from routers_spark.graph import dijkstra, packed

        for _ in batches:
            pass
        cache = dijkstra.GLOBAL_PREDICATE_CACHE
        yield pd.DataFrame({
            "pid": [os.getpid()], "graphs": [len(packed._HYDRATED)],
            "arenas": [len(cache._arenas)], "roots": [cache._roots],
            "held": [sum(a.n_slots for a in cache._arenas.values())]})

    seen = spark.range(0, 64, numPartitions=16).mapInPandas(
        probe, "pid long, graphs long, arenas long, roots long, held long"
    ).toPandas()
    assert seen.graphs.max() >= 1  # the probe reached matching workers
    assert (seen.graphs <= 2).all()
    assert (seen.arenas <= 2).all()
    assert (seen.roots == seen.held).all()
