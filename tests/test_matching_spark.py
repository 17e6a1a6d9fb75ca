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
    g = build_packed_graph(nodes, edges)
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
    per the ordering queries() keeps. Every oracle name must belong to a
    registered query."""
    from routers_spark import queries as Q

    qs = Q.queries()
    os_ = Q.oracle_sql()
    assert len(qs) == 52
    assert len(os_) == 48
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


SHARED_SQL = [
    "tile_assign_slippy", "tile_hilbert_key", "cell_encode_geohash",
    "cell_encode_quadkey", "tile_pyramid_rollup", "partition_assign",
    "zone_assign_pip", "bearing_heading", "gap_sessionize",
    "dedup_stale_events", "dated_range_filter", "pricing_summary",
    "dedup_exact_docs", "text_quality", "lang_id_stopwords",
    "embedding_topk_cosine",
]


def test_engine_gates_run_the_engine():
    """Anti-vacuous-gate guard: a query is either shared SQL (one
    ``gen(d)`` rendered for both engines, no builder) or an engine query
    whose Spark builder is registered with an oracle generator that takes
    no dialect — so it cannot render Spark text, and the gate can never
    compare the oracle with itself."""
    import inspect

    from routers_spark import queries as Q

    shared = [n for n, q in Q._SQL_QUERIES.items() if q.build is None]
    assert sorted(shared) == sorted(SHARED_SQL)
    for name, q in Q._SQL_QUERIES.items():
        params = list(inspect.signature(q.gen).parameters)
        if q.build is None:
            assert params == ["d"], name
        else:
            assert params == [], name
            assert Q.spark_fn(name) is q.build
    assert len(Q._SQL_QUERIES) - len(shared) == 32


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


def _probe_workers(spark) -> pd.DataFrame:
    """Per Python worker (16 tasks reach every worker of local[4]): the
    digest and uid of each graph in its memo, and its predicate-cache
    arena and root counts."""

    def probe(batches):
        import os

        from routers_spark.graph import dijkstra, packed

        for _ in batches:
            pass
        cache = dijkstra.GLOBAL_PREDICATE_CACHE
        graphs = list(packed._HYDRATED.values())
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "digests": [[packed.graph_digest(g.to_broadcastable())
                         for g in graphs]],
            "uids": [[g.uid for g in graphs]],
            "arenas": [len(cache._arenas)], "roots": [cache._roots],
            "held": [sum(a.n_slots for a in cache._arenas.values())]})

    return spark.range(0, 64, numPartitions=16).mapInPandas(
        probe, "pid long, digests array<string>, uids array<long>, "
        "arenas long, roots long, held long").toPandas()


def _reset_registry(spark):
    registry = getattr(spark.sparkContext, "_routers_spark_graphs", {})
    for bc in registry.values():
        bc.unpersist()
    registry.clear()


def test_one_graph_is_broadcast_and_hydrated_once(spark, grid):
    """Ten match_trips calls and a snap_points call on one graph share one
    broadcast, and every Python worker holds that graph at most once,
    its predicate-cache root count equal to the roots its arenas hold."""
    from routers_spark.api import snap_points
    from routers_spark.graph.packed import broadcast_graph

    points_df, nodes_df, edges_df, _ = grid
    _reset_registry(spark)
    for _ in range(10):
        assert len(match_trips(points_df, nodes_df, edges_df).toPandas())
    assert len(snap_points(points_df, nodes_df, edges_df).toPandas())
    registry = spark.sparkContext._routers_spark_graphs
    key = broadcast_graph(nodes_df, edges_df).key
    assert list(registry) == [key]

    seen = _probe_workers(spark)
    copies = seen.digests.map(lambda d: list(d).count(key))
    assert copies.max() == 1  # the probe reached matching workers
    assert (seen.arenas <= 2).all()
    assert (seen.roots == seen.held).all()


def test_alternating_graphs_keep_two_per_worker(spark, grid):
    """Calls alternating between two graphs reuse both broadcasts, and a
    worker keeps both graphs hydrated: the graph it holds after the third
    round is the one it hydrated in the first."""
    from pyspark.sql import functions as F

    from routers_spark.graph.packed import broadcast_graph

    points_df, nodes_df, edges_df, _ = grid
    graphs = [edges_df, edges_df.withColumn("weight", F.col("weight") + 1)]
    _reset_registry(spark)
    handles = [broadcast_graph(nodes_df, e) for e in graphs]
    assert handles[0].key != handles[1].key

    def round_trip():
        for e in graphs:
            out = match_trips(points_df, nodes_df, e).toPandas()
            assert (out.status == "matched").any()
        seen = _probe_workers(spark)
        assert (seen.digests.map(len) <= 2).all()
        return {(pid, d): u for pid, ds, us in zip(seen.pid, seen.digests,
                                                   seen.uids)
                for d, u in zip(ds, us)}

    first = round_trip()
    round_trip()
    last = round_trip()
    registry = spark.sparkContext._routers_spark_graphs
    assert [registry[h.key] for h in handles] == [h.bc for h in handles]
    kept = first.keys() & last.keys()
    assert kept and {d for _, d in kept} <= {h.key for h in handles}
    assert all(first[k] == last[k] for k in kept)


def test_restarted_session_gets_a_fresh_broadcast():
    """A stopped SparkContext's broadcast is never handed out: the graph
    registry lives on the context object, so a new session in the same
    JVM broadcasts the graph anew and matches against it. A child
    process, since stopping the suite's session would end it."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "from routers_spark.fixtures.roads import grid_network, walk_trips\n"
        "from routers_spark.graph.packed import broadcast_graph\n"
        "from routers_spark.matching import match_trips\n"
        "from routers_spark.session import get_spark\n"
        "nodes, edges = grid_network(8)\n"
        "trips = walk_trips(nodes, edges, n_trips=3, points_per_trip=6)\n"
        "handles = []\n"
        "for _ in range(2):\n"
        "    spark = get_spark('local[2]', shuffle_partitions=2)\n"
        "    n, e, p = (spark.createDataFrame(x) for x in (nodes, edges, trips))\n"
        "    h = broadcast_graph(n, e)\n"
        "    assert broadcast_graph(n, e).bc is h.bc\n"
        "    out = match_trips(p, n, e).toPandas()\n"
        "    assert (out.status == 'matched').any(), out\n"
        "    handles.append(h)\n"
        "    spark.stop()\n"
        "assert handles[0].key == handles[1].key\n"
        "assert handles[0].bc is not handles[1].bc\n"
        "print('fresh broadcast ok')\n")
    env = dict(os.environ, PYTHONPATH=root)
    res = subprocess.run([sys.executable, "-c", code], cwd=root, env=env,
                         capture_output=True, text=True, timeout=600)
    assert "fresh broadcast ok" in res.stdout, res.stderr[-3000:]
