"""Streaming matcher state machine — mirrors the reference streaming suite
(libs/routers_transition/tests/streaming.rs): streaming ≡ batch, stale
rejection, gap cut, revision merge semantics. Pure-python tests over the
state machine; the Spark applyInPandasWithState wrapper shares the exact
same function."""

import numpy as np
import pytest

from routers_spark.fixtures.roads import grid_network, straight_road, walk_trips
from routers_spark.graph.packed import build_packed_graph
from routers_spark.matching.matcher import MatchOptions, candidates_for_points, solve_trip
from routers_spark.streaming.match_stream import VehicleMatcherState


@pytest.fixture(scope="module")
def road():
    nodes, edges = straight_road()
    return build_packed_graph(nodes, edges)


TRACK = [(0, -118.151, 34.1503), (1_000_000, -118.155, 34.1503),
         (2_000_000, -118.160, 34.1503), (3_000_000, -118.165, 34.1503)]


def batch_edges(g, pts):
    opts = MatchOptions()
    lons, lats = zip(*pts)
    layers = candidates_for_points(g, lons, lats, opts.search_distance,
                                   opts.emission_error)
    r = solve_trip(g, layers, opts)
    assert r["status"] == "matched"
    return [int(g.edge_id[layers[k]["edge_row"][r["path"][k]]])
            for k in range(len(r["path"]))]


def merge_by_revision(rows):
    """R11: per ts keep the highest-revision layer."""
    best = {}
    for r in rows:
        if r["ts_us"] not in best or r["revision"] > best[r["ts_us"]]["revision"]:
            best[r["ts_us"]] = r
    return dict(sorted(best.items()))


def test_streaming_equals_batch(road):
    # feed point-by-point; merged output must equal the one-shot batch match
    st = VehicleMatcherState()
    rows = []
    for obs in TRACK:
        rows += st.process(road, [obs])
    merged = merge_by_revision(rows)
    assert list(merged.keys()) == [t for t, _, _ in TRACK]
    batch = batch_edges(road, [(lon, lat) for _, lon, lat in TRACK])
    assert [r["edge_id"] for r in merged.values()] == batch


def test_stale_and_duplicate_dropped(road):
    st = VehicleMatcherState()
    st.process(road, [TRACK[0], TRACK[1]])
    n_before = len(st.history)
    out = st.process(road, [TRACK[1]])  # duplicate ts
    assert out == []
    out = st.process(road, [(500_000, -118.152, 34.1503)])  # older ts
    assert out == []
    assert len(st.history) == n_before


def test_gap_cut_segments(road):
    st = VehicleMatcherState()
    st.process(road, TRACK[:2])
    # jump > 120 s: history restarts at the new point
    far_ts = TRACK[1][0] + 200 * 1_000_000
    out = st.process(road, [(far_ts, -118.165, 34.1503)])
    assert len(st.history) == 1
    assert [r["ts_us"] for r in out] == [far_ts]


def test_revision_monotonic(road):
    st = VehicleMatcherState()
    revs = []
    for obs in TRACK:
        rows = st.process(road, [obs])
        if rows:
            revs.append(rows[-1]["revision"])
    assert revs == sorted(revs)
    assert len(set(revs)) == len(revs)


def test_context_window_bounds_state(road):
    nodes, edges = grid_network(10)
    g = build_packed_graph(nodes, edges)
    trips = walk_trips(nodes, edges, n_trips=1, points_per_trip=30, seed=3)
    st = VehicleMatcherState()
    for _, row in trips.iterrows():
        st.process(g, [(int(row.ts_us), float(row.lon), float(row.lat))])
        assert len(st.history) <= 10  # CONTEXT_WINDOW


def test_unanchored_stream_points_dropped(road):
    st = VehicleMatcherState()
    rows = st.process(road, [TRACK[0], (1_500_000, 0.0, 0.0), TRACK[2]])
    assert {r["ts_us"] for r in rows} == {TRACK[0][0], TRACK[2][0]}


def test_state_roundtrip_resume(road):
    # serde-resume (streaming.rs:89-): serialize state, restore, continue —
    # same output as uninterrupted processing
    a = VehicleMatcherState()
    a.process(road, TRACK[:2])
    restored = VehicleMatcherState.from_tuple(a.to_tuple())
    restored.history = [(int(t), lo, la) for t, lo, la in restored.history]
    out_resumed = restored.process(road, TRACK[2:])
    b = VehicleMatcherState()
    b.process(road, TRACK[:2])
    out_direct = b.process(road, TRACK[2:])
    assert out_resumed == out_direct


# ---- R5 continuation reconcile (continuation.rs:32-57; streaming.rs:223-466)


def test_reconcile_resumes_and_trims_to_overlap(road):
    from routers_spark.streaming.match_stream import reconcile

    obs = TRACK
    persisted = obs[:4]
    history = obs[1:]  # window slid past the first point
    kind, kept, fresh = reconcile(persisted, history)
    assert kind == "resume"
    assert kept == list(obs[1:4])
    assert fresh == list(obs[4:])  # empty here: TRACK has 4 points


def test_reconcile_restart_without_overlap(road):
    from routers_spark.streaming.match_stream import reconcile

    history = [(10_000_000, -118.160, 34.1503)]
    kind, kept, fresh = reconcile(TRACK[:2], history)
    assert kind == "restart" and kept == [] and fresh == history
    # no persisted trip at all
    kind, _, fresh = reconcile(None, history)
    assert kind == "restart" and fresh == history


def test_reconcile_restart_on_position_divergence(road):
    """Same timestamp, different position: the persisted layer was solved
    against data the history contradicts — must NOT resume
    (streaming.rs divergence case)."""
    from routers_spark.streaming.match_stream import reconcile

    moved = [(TRACK[0][0], TRACK[0][1] + 0.01, TRACK[0][2]), *TRACK[1:3]]
    kind, kept, fresh = reconcile(list(TRACK[:3]), moved)
    assert kind == "restart"


def test_ticked_reconcile_equals_batch(road):
    """The orchestrator dissemination loop (streaming.rs
    ticked_resume_snapshots_full_history): each tick reconciles the
    committed state against the history, feeds only the fresh points, and
    the merged output equals the one-shot batch match."""
    from routers_spark.streaming.match_stream import VehicleMatcherState

    committed = None
    rows = []
    for tick in range(1, len(TRACK) + 1):
        history = list(TRACK[:tick])
        st = (VehicleMatcherState.from_tuple(committed) if committed
              else VehicleMatcherState())
        if committed:
            st.history = [(int(t), lo, la) for t, lo, la in st.history]
        fresh = st.reconcile_with(history)
        assert len(st.history) + len(fresh) >= len(history)
        rows += st.process(road, fresh)
        committed = st.to_tuple()
    merged = merge_by_revision(rows)
    batch = batch_edges(road, [(lon, lat) for _, lon, lat in TRACK])
    assert [r["edge_id"] for r in merged.values()] == batch


def test_downgrade_flag_on_graph_epoch_change(road):
    """R6 analog: a state that last solved against another graph epoch
    restarts from raw origins (which the state machine always retains) and
    flags the emitted rows downgraded."""
    st = VehicleMatcherState()
    out1 = st.process(road, TRACK[:2], graph_key="epoch-a")
    assert all(not r["downgraded"] for r in out1)
    out2 = st.process(road, TRACK[2:3], graph_key="epoch-b")
    assert out2 and all(r["downgraded"] for r in out2)
    out3 = st.process(road, TRACK[3:], graph_key="epoch-b")
    assert out3 and all(not r["downgraded"] for r in out3)


def test_incremental_weighing_only_pending(road, monkeypatch):
    """R2 (weigh/mod.rs:160-168): each micro-batch weighs ONLY the boundary
    its fresh point introduced — retained interior boundaries come from the
    process-wide cache."""
    import routers_spark.matching.matcher as matcher_mod
    from routers_spark.streaming import match_stream as ms

    ms._BOUNDARY_LRU.clear()
    calls = []  # boundaries weighed, one entry per weigh_boundaries call
    orig = matcher_mod.weigh_boundaries

    def counting(graph, cache, boundaries, *args, **kw):
        calls.append(len(boundaries))
        return orig(graph, cache, boundaries, *args, **kw)

    monkeypatch.setattr(matcher_mod, "weigh_boundaries", counting)

    st = VehicleMatcherState()
    st.process(road, [TRACK[0]])
    st.process(road, [TRACK[1]])     # 1 new boundary
    assert sum(calls) == 1
    st.process(road, [TRACK[2]])     # only boundary (1,2) is new
    assert calls[-1] == 1 and sum(calls) == 2
    st.process(road, [TRACK[3]])
    assert calls[-1] == 1 and sum(calls) == 3
    assert len(calls) == 4  # one weigh_boundaries call per micro-batch
    # output still equals batch
    st2 = VehicleMatcherState()
    rows = []
    for obs in TRACK:
        rows += st2.process(road, [obs])
    merged = merge_by_revision(rows)
    batch = batch_edges(road, [(lon, lat) for _, lon, lat in TRACK])
    assert [r["edge_id"] for r in merged.values()] == batch


def test_boundary_cache_keyed_by_options(road):
    """Two streams on one graph key share boundary matrices only under
    equal options: a stream with another transition ζ weighs its
    boundaries afresh instead of reading the first stream's."""
    from routers_spark.matching.costing import CostingStrategies, Strategy
    from routers_spark.streaming import match_stream as ms

    ms._BOUNDARY_LRU.clear()
    zeta3 = CostingStrategies(transition=Strategy(zeta=3.0))
    for costing in (None, zeta3):
        opts = MatchOptions(drop_unanchored=True, costing=costing)
        assert VehicleMatcherState().process(road, TRACK, opts, graph_key="g")
    assert len(ms._BOUNDARY_LRU) == 2 * (len(TRACK) - 1)


def test_epoch_graphs_share_the_worker_memo(tmp_path):
    """Three published epochs go through graph.packed's one worker memo:
    at most HYDRATED_KEEP graphs stay, and an evicted epoch takes its
    predicate-cache arenas with it."""
    from routers_spark.graph import packed
    from routers_spark.graph.dijkstra import GLOBAL_PREDICATE_CACHE as cache
    from routers_spark.streaming.epoch import GraphRegistry, task_graph

    nodes, edges = grid_network(4)
    reg = GraphRegistry(str(tmp_path))
    packed._HYDRATED.clear()
    cache.__init__()
    uids = []
    for epoch in "123":
        reg.publish(nodes, edges, epoch)
        got, g = task_graph(reg)
        assert got == epoch and task_graph(reg)[1] is g  # memoised
        cache.locate(g, [0, 1, 2], [3, 4, 5])
        uids.append(g.uid)
        assert len(packed._HYDRATED) <= packed.HYDRATED_KEEP
    assert list(packed._HYDRATED) == [(reg.path, "2"), (reg.path, "3")]
    assert {key[0] for key in cache._arenas} == set(uids[1:])
    assert cache._roots == sum(a.n_slots for a in cache._arenas.values())
    packed._HYDRATED.clear()
