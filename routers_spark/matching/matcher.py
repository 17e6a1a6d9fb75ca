"""HMM/Viterbi map matching: the engine's primary query.

Spark shape (SURVEY.md §3.1), two candidate paths:
  - broadcast: the road graph is packed + broadcast once (north rule:
    "broadcast packed R-tree"); trips shuffle once on trip_id and a
    ``mapInPandas`` runs over the trip-sorted partitions, candidate
    generation (X6) running against the executor-resident graph
  - celljoin: candidates come from a distributed cell-cover equi-join and
    a ``cogroup.applyInPandas`` per cover signature solves that group's
    trips against its shared padded subgraph
Both feed one solve path (``_solve_trips``) over a batch's trips in flat
form (one candidate table with layer and trip offsets): one batched box
query for the broadcast path's candidates, boundary weighing (M4-M9) in
one compiled ``weigh_flat`` call per chunk of consecutive trips, then ONE
compiled Viterbi call (M11) for every trip of the batch, with a
process-wide predicate cache (O4: one flat arena of parent maps per graph
and profile, emptied wholesale past 8192 roots; a call's misses are
settled in one compiled call). The discretized output is one gather per
batch; collapse (M15/16) re-derives the chosen hops of every matched trip
of the batch in one lane lookup and one compiled walk, only for the
interpolated and gate_union outputs, which read them, and builds their
rows with array operations. ONE frame per Arrow batch or cogroup group,
no per-row or per-trip Python.

Semantics are the reference batch facade
(libs/routers_transition/src/match/implementation.rs:20-41 →
matcher/entity.rs:304-333):
  - candidates: every edge whose bbox intersects the 50 m square box,
    projected planar, no radial post-filter (scan.rs:22-44 over-selection is
    BY DESIGN)
  - all-or-nothing unanchored batches (entity.rs:166-193)
  - unresolvable boundary → DisconnectedError (entity.rs:221-226)
  - collapse re-derives hop geometry from the warm cache (entity.rs:337-358)
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from routers_spark.config import (
    DEFAULT_EMISSION_ERROR_M,
    DEFAULT_SEARCH_DISTANCE_M,
)
from routers_spark.functions.geo import square_box_np
from routers_spark.functions.ragged import ragged_within
from routers_spark.graph.dijkstra import GLOBAL_PREDICATE_CACHE, viterbi
from routers_spark.graph.packed import broadcast_graph
from routers_spark.matching import costing
from routers_spark.matching.weigh import weigh_boundaries, weigh_flat


@dataclass
class MatchOptions:
    search_distance: float = DEFAULT_SEARCH_DISTANCE_M
    emission_error: float = DEFAULT_EMISSION_ERROR_M
    selective_fanout: int | None = None  # None = AllCompute (exact, default)
    drop_unanchored: bool = False  # streaming semantics (bin/matcher.rs:143-157)
    # runtime accessibility profile (TripProfile) gating every Dijkstra
    # expansion (cache.rs:297-315); None = no gating (default allow)
    profile: object | None = None
    # §2.9 injected costing (costing.CostingStrategies): custom emission /
    # transition heuristics + ζ/β decay constants; None = reference defaults
    costing: object | None = None


# -------------------------------------------------------- candidate search


def _candidate_table(graph, lons, lats, search_distance: float,
                     emission_error: float, costing_strategies=None):
    """M1/X6 candidates of every point in flat form: ``(offsets, cand)``,
    point i's candidates at ``offsets[i]:offsets[i + 1]`` of each column
    of ``cand`` (edge_row, frac, px, py, dist_m, emission). One batched
    box query over all points' square boxes, then ONE vectorized
    projection/emission pass over every (point, candidate-edge) pair (the
    rayon par-iter analog, generation/mod.rs:33-37). A point has one
    candidate per edge intersecting its square box, in ascending edge row
    order (stable; the trellis tie-breaks depend on it); a point with a
    NaN or infinite coordinate has none."""
    lons = np.asarray(lons, dtype=np.float64)
    lats = np.asarray(lats, dtype=np.float64)
    with np.errstate(invalid="ignore"):
        boxes = square_box_np(lons, lats, search_distance)
    off, rows = graph.box_query_many(*boxes)
    counts = np.diff(off)
    frac, px, py, dist, emission = costing.project_candidates(
        graph.ax[rows], graph.ay[rows], graph.bx[rows], graph.by[rows],
        np.repeat(lons, counts), np.repeat(lats, counts), emission_error,
        costing_strategies.emission if costing_strategies is not None
        else None)
    return off, {"edge_row": rows, "frac": frac, "px": px, "py": py,
                 "dist_m": dist, "emission": emission}


def candidates_for_points(graph, lons, lats, search_distance: float,
                          emission_error: float,
                          costing_strategies=None) -> list[dict]:
    """M1/X6 candidate layers, one per point: :func:`_candidate_table`
    cut into one dict of columns per point (views of the flat table)."""
    off, cand = _candidate_table(graph, lons, lats, search_distance,
                                 emission_error, costing_strategies)
    return [{k: v[a:b] for k, v in cand.items()}
            for a, b in zip(off[:-1].tolist(), off[1:].tolist())]


# ------------------------------------------------------------- trip solver


def solve_trip(graph, layers: list[dict], opts: MatchOptions,
               boundary_keys: list | None = None,
               boundary_cache: dict | None = None) -> dict:
    """Weigh + solve one trip. Returns {status, breaks, path, cost, mats}
    where path[i] is the chosen candidate index per layer and mats the
    weighed boundary matrices (the streaming matcher builds its
    convergence trellis from them — one weigh per micro-batch, not two).
    The solve is the batched compiled Viterbi of ``_solve_trips``, called
    with one trip.

    R2 incremental weighing (weigh/mod.rs:30-34, 160-168: only PENDING
    boundaries recomputed): with ``boundary_keys`` + ``boundary_cache``,
    boundary k's matrix is reused from cache[boundary_keys[k]] when
    present — the streaming matcher keys by the observation pair, so each
    micro-batch weighs only the boundaries its new points introduced."""
    empty = [i for i, l in enumerate(layers) if len(l["edge_row"]) == 0]
    if empty:
        return _unsolved("unanchored", empty)
    nb = len(layers) - 1
    if boundary_keys is None or boundary_cache is None:
        boundary_keys, boundary_cache = range(nb), {}
    todo = [k for k in range(nb) if boundary_keys[k] not in boundary_cache]
    fresh = weigh_boundaries(graph, GLOBAL_PREDICATE_CACHE,
                             [(layers[k], layers[k + 1]) for k in todo],
                             fanout=opts.selective_fanout,
                             profile=opts.profile, costing=opts.costing)
    boundary_cache.update(zip([boundary_keys[k] for k in todo], fresh))
    mats = [boundary_cache[boundary_keys[k]] for k in range(nb)]

    layer_off = np.zeros(nb + 2, dtype=np.int64)
    np.cumsum([len(l["edge_row"]) for l in layers], out=layer_off[1:])
    mat_off = np.zeros(nb + 1, dtype=np.int64)
    np.cumsum([m.size for m in mats], out=mat_off[1:])
    status, path, cost, broken = viterbi(
        [0, nb + 1], layer_off, mat_off,
        np.concatenate([l["emission"] for l in layers]),
        np.concatenate([m.ravel() for m in mats] + [np.empty(0, np.uint32)]),
        [True])
    if status[0] == 1:
        return _unsolved("disconnected", np.flatnonzero(broken[:nb]).tolist(),
                         mats)
    if status[0] == 2:
        return _unsolved("unreachable", [], mats)
    return {"status": "matched", "breaks": [], "path": path.tolist(),
            "cost": int(cost[0]), "mats": mats}


def _unsolved(status: str, breaks: list, mats=None) -> dict:
    return {"status": status, "breaks": breaks, "path": None, "cost": None,
            "mats": mats}


# --------------------------------------------------------------- Spark API

DISCRETIZED_SCHEMA = (
    "trip_id string, seq int, edge_id long, matched_lon double, "
    "matched_lat double, frac double, dist_m double, emission long, "
    "trip_cost long, status string"
)

INTERPOLATED_SCHEMA = (
    "trip_id string, elem int, lon double, lat double, edge_id long, "
    "kind string, trip_cost long, status string"
)

# Combined gate shape (r6): ONE facade pass emits the union of the
# discretized rows (kind='matched': idx=seq, frac) and the interpolated
# RoutedPath rows (idx=elem, kind, plon/plat) for MATCHED trips — the
# oracle-gated map_match_exact[_celljoin] queries consume exactly this
# union, and running it as one pass halves the candidate/subgraph/solve
# machinery vs two full match_trips calls. Non-matched trips emit nothing
# (the gate filters status='matched' anyway). plon/plat are NaN on
# 'matched' rows and frac is NaN on interpolated rows; the caller maps
# those to SQL NULLs by kind (NaN wouldn't hash-match the oracle's NULLs).
GATE_UNION_SCHEMA = (
    "trip_id string, idx int, kind string, edge_id long, frac double, "
    "plon double, plat double"
)


# candidate pairs (the sum of m x n over boundaries) past which _solve_trips
# cuts a weigh_flat call at the next trip edge: ~90 boundaries of the
# grid benchmark's trips. It bounds the weigher's scratch per call (a
# celljoin group is not bounded by the Arrow batch size). On the grid
# benchmark's task chunks (~52k pairs each), one call per chunk measured
# 8-10% less solve time than 6k-pair calls and 16 MB more peak RSS per
# process (+33 against +17 MB).
WEIGH_PAIR_BUDGET = 6_000


@dataclass
class _Trips:
    """A batch of trips in flat form. Trip t spans layers
    ``trip_off[t]:trip_off[t + 1]``; layer l is one observation (``seq[l]``,
    seq order within the trip) and spans candidates
    ``layer_off[l]:layer_off[l + 1]`` of the columns in ``cand`` (as
    :func:`_candidate_table` makes them), in ascending edge-row order."""

    trip_id: np.ndarray
    trip_off: np.ndarray
    seq: np.ndarray
    layer_off: np.ndarray
    cand: dict


def _trip_bounds(tid) -> np.ndarray:
    """Start offsets of each run of equal values, plus the end."""
    cuts = np.nonzero(tid[1:] != tid[:-1])[0] + 1
    return np.concatenate([[0], cuts, [len(tid)]]).astype(np.int64)


def _broadcast_trips(tid, seq, lon, lat, graph, opts: MatchOptions) -> _Trips:
    """Broadcast path: the trips of trip-contiguous raw point rows, with
    ONE candidate search over the whole batch against the
    executor-resident graph; one layer per point. Rows are seq-sorted
    within each trip first (a stable sort, so equal seqs keep their
    arrival order)."""
    bounds = _trip_bounds(tid) if len(tid) else np.zeros(1, dtype=np.int64)
    trip_of = np.repeat(np.arange(len(bounds) - 1), np.diff(bounds))
    o = np.lexsort((seq, trip_of))
    seq, lon, lat = seq[o], lon[o], lat[o]
    layer_off, cand = _candidate_table(graph, lon, lat, opts.search_distance,
                                       opts.emission_error, opts.costing)
    return _Trips(tid[bounds[:-1]], bounds, seq, layer_off, cand)


def _candidate_trips(tid, seq, er, frac, px, py, dist, emis) -> _Trips:
    """Celljoin path: the trips of pre-joined candidate column arrays
    sorted by (trip_id, seq, edge_row), one layer per (trip_id, seq) run.
    edge_row == -1 marks an unanchored point: its run becomes an empty
    layer (markers beside real candidates are dropped)."""
    new_layer = np.ones(len(tid), dtype=bool)
    new_layer[1:] = (tid[1:] != tid[:-1]) | (seq[1:] != seq[:-1])
    layer_start = np.flatnonzero(new_layer)
    layer_of = np.cumsum(new_layer) - 1
    real = er >= 0
    layer_off = np.zeros(len(layer_start) + 1, dtype=np.int64)
    np.cumsum(np.bincount(layer_of[real], minlength=len(layer_start)),
              out=layer_off[1:])
    ltid = tid[layer_start]
    trip_off = (_trip_bounds(ltid) if len(ltid)
                else np.zeros(1, dtype=np.int64))
    cand = {"edge_row": er[real], "frac": frac[real], "px": px[real],
            "py": py[real], "dist_m": dist[real],
            "emission": emis[real].astype(np.uint32)}
    return _Trips(ltid[trip_off[:-1]], trip_off, seq[layer_start], layer_off,
                  cand)


def _drop_unanchored(t: _Trips) -> _Trips:
    """Streaming semantics (bin/matcher.rs:143-157): a point with no
    candidate is dropped from its trip instead of failing it."""
    keep = np.diff(t.layer_off) > 0
    layer_trip = np.repeat(np.arange(len(t.trip_id)), np.diff(t.trip_off))
    trip_off = np.zeros(len(t.trip_off), dtype=np.int64)
    np.cumsum(np.bincount(layer_trip[keep], minlength=len(t.trip_id)),
              out=trip_off[1:])
    return _Trips(t.trip_id, trip_off, t.seq[keep],
                  np.append(0, t.layer_off[1:][keep]), t.cand)


def _solve_trips(graph, trips: _Trips, opts: MatchOptions,
                 output: str) -> pd.DataFrame:
    """The one solve path of both candidate paths and every output mode,
    over a batch of trips in flat form. A trip with no layer, or an empty
    layer, is unanchored (empty layers are dropped first under streaming
    semantics). The boundaries of consecutive anchored trips are weighed
    together, one ``weigh_flat`` call per ~``WEIGH_PAIR_BUDGET``
    candidate pairs over the batch's candidate table; then ONE compiled
    Viterbi call solves every anchored trip of the batch over the
    concatenated matrices, and the output is built for the whole batch
    at once, in trip order: a matched trip's rows, or a status row."""
    t = _drop_unanchored(trips) if opts.drop_unanchored else trips
    n_trips = len(t.trip_id)
    n_layers = np.diff(t.trip_off)
    width = np.diff(t.layer_off)
    layer_trip = np.repeat(np.arange(n_trips), n_layers)
    anchored = (n_layers > 0) & (np.bincount(
        layer_trip[width == 0], minlength=n_trips) == 0)

    # boundaries: every layer but the last of an anchored trip starts one
    last = np.zeros(len(width), dtype=bool)
    last[t.trip_off[1:][n_layers > 0] - 1] = True
    bl = np.flatnonzero(~last & anchored[layer_trip])
    trip_pairs = np.bincount(layer_trip[bl], weights=width[bl] * width[bl + 1],
                             minlength=n_trips)
    csum = np.cumsum(trip_pairs)
    mat_off = np.zeros(len(width), dtype=np.int64)
    parts = []
    total = 0
    t0 = b0 = 0
    while t0 < n_trips:
        base = csum[t0 - 1] if t0 else 0.0
        t1 = min(int(np.searchsorted(csum, base + WEIGH_PAIR_BUDGET)) + 1,
                 n_trips)
        b1 = int(np.searchsorted(bl, t.trip_off[t1]))
        if b1 > b0:
            lo = t.layer_off[bl[b0:b1]]
            flat, moff = weigh_flat(
                graph, GLOBAL_PREDICATE_CACHE, t.cand["edge_row"],
                t.cand["frac"], t.cand["px"], t.cand["py"], lo,
                t.layer_off[bl[b0:b1] + 1], t.layer_off[bl[b0:b1] + 2],
                fanout=opts.selective_fanout, profile=opts.profile,
                costing=opts.costing)
            mat_off[bl[b0:b1]] = moff[:-1] + total
            total += int(moff[-1])
            parts.append(flat)
        t0, b0 = t1, b1
    status, path, cost, _ = viterbi(
        t.trip_off, t.layer_off, mat_off, t.cand["emission"],
        np.concatenate(parts + [np.empty(0, dtype=np.uint32)]), anchored)
    # viterbi's codes: 0 matched, 1 disconnected, 2 unreachable, -1 not
    # solved (unanchored)
    status = np.array(["matched", "disconnected", "unreachable",
                       "unanchored"], dtype=object)[status]
    # the chosen candidate of every layer, as a row of the candidate table
    sel = t.layer_off[:-1] + path
    cols = (_discretized_cols(t, graph, status, sel, cost)
            if output == "discretized"
            else _routed_cols(t, graph, status, sel, cost, opts.profile,
                              output))
    return pd.DataFrame(cols)


def _discretized_cols(t: _Trips, graph, status, sel, cost) -> dict:
    """The discretized output of a whole batch with one gather: a matched
    trip's layers become its rows, any other trip one status row."""
    matched = status == "matched"
    n_layers = np.diff(t.trip_off)
    rows = np.where(matched, n_layers, 1)
    on = np.repeat(matched, rows)  # output rows that are matched layers
    ml = np.flatnonzero(np.repeat(matched, n_layers))  # their layers
    c = sel[ml]
    return {
        "trip_id": np.repeat(t.trip_id, rows).astype(object),
        "seq": _merge(on, t.seq[ml], -1, np.int32),
        # no graph at all when nothing matched in a cogroup without edges
        "edge_id": _merge(on, graph.edge_id[t.cand["edge_row"][c]], -1,
                          np.int64)
        if len(c) else np.full(len(on), -1, dtype=np.int64),
        "matched_lon": _merge(on, t.cand["px"][c], np.nan, np.float64),
        "matched_lat": _merge(on, t.cand["py"][c], np.nan, np.float64),
        "frac": _merge(on, t.cand["frac"][c], np.nan, np.float64),
        "dist_m": _merge(on, t.cand["dist_m"][c], np.nan, np.float64),
        "emission": _merge(on, t.cand["emission"][c], -1, np.int64),
        "trip_cost": np.repeat(np.where(matched, cost, -1), rows),
        "status": np.repeat(status, rows),
    }


def _merge(mask, on, off, dtype) -> np.ndarray:
    """One ``dtype`` array: ``on`` where ``mask`` is set, ``off``
    elsewhere (each one value, or one value per such position)."""
    out = np.empty(len(mask), dtype=dtype)
    out[mask] = on
    out[~mask] = off
    return out


_KINDS = np.array(["edge_source", "candidate", "edge_target", "bridge"],
                  dtype=object)


def _routed_cols(t: _Trips, graph, status, sel, cost, profile,
                 output: str) -> dict:
    """The 'interpolated' or 'gate_union' output of a whole batch, in trip
    order. Each matched trip's RoutedPath (candidate/route.rs:46-141):
    the first edge's source, then per layer its candidate and, after a
    standard hop, the edge's target, one bridge per path edge's source and
    the next edge's source; consecutive identical points dropped
    (route.rs:131). Collapse re-derives every chosen standard hop of the
    batch from the warm cache (entity.rs:337-358) in one lane lookup and
    one compiled walk. 'interpolated' gives a non-matched trip one status
    row; 'gate_union' gives a matched trip its discretized rows
    (kind='matched') before the routed ones, and any other trip none."""
    matched = status == "matched"
    n_layers = np.diff(t.trip_off)
    ml = np.flatnonzero(np.repeat(matched, n_layers))  # matched layers
    c = sel[ml]
    last = np.isin(ml + 1, t.trip_off)  # the last layer of its trip
    first = np.ones(len(ml), dtype=bool)
    first[1:] = last[:-1]
    er = t.cand["edge_row"][c]
    frac = t.cand["frac"][c]
    # a hop is direct on one edge with ordered fracs (entry.rs:92-106);
    # a matched trip's chosen hop is never unreachable
    hop = np.flatnonzero(~last)
    direct = ((er[hop] == er[hop + 1]) & (frac[hop] <= frac[hop + 1]))
    std = hop[~direct]
    n_rows = np.zeros(len(ml), dtype=np.int64)
    rows = np.empty(0, dtype=np.int64)
    if len(std):
        member, roff, rows = GLOBAL_PREDICATE_CACHE.path_rows(
            graph, graph.edge_dst[er[std]], graph.edge_src[er[std + 1]],
            profile)
        if not member.all():
            raise RuntimeError("a matched hop left its root's bound")
        n_rows[std] = np.diff(roff)
    # elements per layer: [edge_source of the trip's first edge], the
    # candidate, and after a standard hop [edge_target, bridges...,
    # edge_source]
    is_std = np.zeros(len(ml), dtype=bool)
    is_std[std] = True
    cand_at = np.zeros(len(ml) + 1, dtype=np.int64)
    np.cumsum(first + 1 + is_std * (2 + n_rows), out=cand_at[1:])
    n_el = int(cand_at[-1])
    cand_at = cand_at[:-1] + first
    kind = np.empty(n_el, dtype=np.int8)
    lon, lat = np.empty(n_el), np.empty(n_el)
    erow = np.empty(n_el, dtype=np.int64)

    def put(at, code, x, y, r):
        kind[at], lon[at], lat[at], erow[at] = code, x, y, r

    if len(ml):
        put(cand_at[first] - 1, 0, graph.ax[er[first]], graph.ay[er[first]],
            er[first])
        put(cand_at, 1, t.cand["px"][c], t.cand["py"][c], er)
        put(cand_at[std] + 1, 2, graph.bx[er[std]], graph.by[er[std]],
            er[std])
        br = np.repeat(cand_at[std] + 2, n_rows[std]) + ragged_within(
            n_rows[std])
        put(br, 3, graph.ax[rows], graph.ay[rows], rows)
        nxt = er[std + 1]
        put(cand_at[std] + 2 + n_rows[std], 0, graph.ax[nxt], graph.ay[nxt],
            nxt)
    # dedup consecutive identical points within a trip (route.rs:131)
    start = np.zeros(n_el, dtype=bool)
    start[cand_at[first] - 1] = True
    keep = start.copy()
    keep[1:] |= (lon[1:] != lon[:-1]) | (lat[1:] != lat[:-1])
    kept_start = start[keep]
    m = np.diff(np.append(np.flatnonzero(kept_start), kept_start.size))
    elem = ragged_within(m)
    kind, lon, lat, erow = kind[keep], lon[keep], lat[keep], erow[keep]
    eid = graph.edge_id[erow].astype(np.int64) if n_el else erow
    per_trip = np.zeros(len(matched), dtype=np.int64)
    per_trip[matched] = m
    if output == "interpolated":
        n = np.where(matched, per_trip, 1)
        on = np.repeat(matched, n)  # output rows that are elements
        return {
            "trip_id": np.repeat(t.trip_id, n).astype(object),
            "elem": _merge(on, elem, -1, np.int32),
            "lon": _merge(on, lon, np.nan, np.float64),
            "lat": _merge(on, lat, np.nan, np.float64),
            "edge_id": _merge(on, eid, -1, np.int64),
            "kind": _merge(on, _KINDS[kind], "none", object),
            "trip_cost": np.repeat(np.where(matched, cost, -1), n),
            "status": np.repeat(status, n),
        }
    # gate_union: per matched trip its layers, then its elements
    n = np.where(matched, n_layers + per_trip, 0)
    is_layer = ragged_within(n) < np.repeat(n_layers, n)
    layer_eid = (graph.edge_id[er].astype(np.int64) if len(ml)
                 else np.empty(0, dtype=np.int64))
    return {
        "trip_id": np.repeat(t.trip_id, n).astype(object),
        "idx": _merge(is_layer, t.seq[ml], elem, np.int32),
        "kind": _merge(is_layer, "matched", _KINDS[kind], object),
        "edge_id": _merge(is_layer, layer_eid, eid, np.int64),
        "frac": _merge(is_layer, frac, np.nan, np.float64),
        "plon": _merge(is_layer, np.nan, lon, np.float64),
        "plat": _merge(is_layer, np.nan, lat, np.float64),
    }


def match_trips(points_df, nodes_df, edges_df, opts: MatchOptions | None = None,
                output: str = "discretized", candidate_path: str = "broadcast",
                salt: int = 0, solve_salt: int = 1,
                broadcast_limit_rows: int = 5_000_000):
    """M17 facade: match every trip in points_df(trip_id, seq, lon, lat)
    against the road graph given as nodes(node_id, lon, lat) /
    edges(edge_id, src, dst, weight) DataFrames.

    candidate_path:
      - "broadcast": the graph is collected, packed and broadcast
        (``graph.packed.broadcast_graph``: one broadcast per distinct
        graph per session, hydrated once per worker); trips
        shuffle once on trip_id (the only wide dependency) and candidate
        generation + solving happen per group against the executor-resident
        index. Right when the graph fits a broadcast (the north-rule shape).
      - "celljoin": the NO-BROADCAST scale path — candidate generation runs
        as a distributed padded cell-cover equi-join (shard/partition.py,
        salting via ``salt``), and each trip's solver receives its OWN road
        subgraph (every edge within Dijkstra-bound + search of the trip,
        P4/P5 admit semantics) through a cover-signature cogroup. The global
        graph is never collected to the driver and never broadcast. Both
        paths produce identical matches (tie-breaks share the canonical
        edge_row order; a sorted subset preserves it —
        tests/test_celljoin.py).
    """
    opts = opts or MatchOptions()
    schema = {"discretized": DISCRETIZED_SCHEMA,
              "interpolated": INTERPOLATED_SCHEMA,
              "gate_union": GATE_UNION_SCHEMA}[output]

    if candidate_path == "broadcast":
        from collections.abc import Iterator

        spark = points_df.sparkSession
        # a graph past the broadcast envelope (either table) must take the
        # celljoin path, not OOM the driver
        handle = broadcast_graph(nodes_df, edges_df,
                                 limit_rows=broadcast_limit_rows)
        n_part = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1)

        # ONE shuffle on trip_id, then mapInPandas over trip-sorted
        # partitions: hundreds of trips share each Arrow batch, vs one
        # Arrow round-trip per 10-row group under groupBy.applyInPandas
        # (per-group dispatch dominated the matcher's wall time at scale).
        # Trips split across batch boundaries are carried forward — rows of
        # a trip are contiguous (and seq-sorted) after sortWithinPartitions.
        def run_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            graph = handle.graph()

            def solve_batch(tid, seq, lon, lat):
                return _solve_trips(
                    graph, _broadcast_trips(tid, seq, lon, lat, graph, opts),
                    opts, output)

            ctid = cseq = clon = clat = None
            for pdf in batches:
                if not len(pdf):
                    continue
                tid = pdf["trip_id"].values
                seq = pdf["seq"].values
                lon = pdf["lon"].values
                lat = pdf["lat"].values
                if ctid is not None and len(ctid):
                    tid = np.concatenate([ctid, tid])
                    seq = np.concatenate([cseq, seq])
                    lon = np.concatenate([clon, lon])
                    lat = np.concatenate([clat, lat])
                last = tid == tid[-1]
                ctid, cseq, clon, clat = tid[last], seq[last], lon[last], lat[last]
                keep = ~last
                if keep.any():
                    yield solve_batch(tid[keep], seq[keep], lon[keep], lat[keep])
            if ctid is not None and len(ctid):
                yield solve_batch(ctid, cseq, clon, clat)

        # exactly spark.sql.shuffle.partitions tasks: each task carries a
        # fixed ~65 ms of Arrow-stream + worker-handshake cost, so fewer,
        # larger solver tasks win (measured 128 -> 32 tasks = -35% wall at
        # local[32]); the session sizes shuffle partitions to cores (or
        # 2-3x cores on a real cluster via --conf)
        prepared = (points_df.repartition(n_part, "trip_id")
                    .sortWithinPartitions("trip_id", "seq"))
        return prepared.mapInPandas(run_iter, schema=schema)

    from routers_spark.config import DIJKSTRA_BOUND_CM
    from routers_spark.functions.cache import bounded_persist
    from routers_spark.shard.partition import (
        admitted_edge_coords,
        candidates_cell_join,
        sig_subgraph_edges,
        trip_cover_sigs_cells,
    )

    # pad: bound (cm→m) + search + equirectangular slop so every bounded
    # Dijkstra expansion from any candidate stays inside the subgraph
    pad_m = DIJKSTRA_BOUND_CM / 100.0 + opts.search_distance * 1.5 + 50.0
    # ONE region-pruned, materialized (edge + endpoint coords) table per
    # call, shared by the candidate cover AND the subgraph cover: the full
    # edge table is scanned once per query, not once per cover (pruned
    # with the WIDEST pad / coarsest grid, so each cover's own admit is a
    # subset). bounded_persist = eager localCheckpoint — a Spark job, but
    # no driver collect (the no-driver-jobs guard stays green); the
    # checkpoint holds only the trips' region, KB-to-MB scale.
    pruned = bounded_persist(
        admitted_edge_coords(edges_df, nodes_df, points_df, pad_m=pad_m,
                             cell_deg=0.02),
        "celljoin_edge_coords")
    cand = candidates_cell_join(
        points_df, nodes_df, edges_df,
        search_m=opts.search_distance, emission_error=opts.emission_error,
        salt=salt, edge_coords=pruned, costing_strategies=opts.costing,
    )
    # ONE signature aggregation per call, shared by the subgraph builder
    # (which derives (sig, cx, cy) from the carried cell arrays) and the
    # candidate→sig join
    sigs_cells = trip_cover_sigs_cells(points_df)
    # subgraphs are SHARED per cover signature (one graph per distinct cell
    # set, solved against by every trip with that cover — the per-shard
    # graph analog), not duplicated per trip
    sub = sig_subgraph_edges(points_df, nodes_df, edges_df, pad_m=pad_m,
                             sigs_cells=sigs_cells, edge_coords=pruned)
    # fresh exprId for sig on this side (the alias mints one): both cogroup
    # inputs descend from the same sigs_cells frame, and Spark's ambiguous
    # self-join check rejects the shared attribute otherwise
    from pyspark.sql import functions as F

    cand_sig = cand.join(
        sigs_cells.select("trip_id", F.col("sig").alias("sig")), "trip_id")

    # skew valve: trips sharing one cover signature solve sequentially in a
    # single cogroup task, so a hot signature (fleets on repeated routes)
    # becomes a straggler. ``solve_salt`` > 1 sub-splits every signature
    # into that many solver groups (trips spread by stable hash; the shared
    # subgraph duplicates into each sub-group — trading solve_salt× graph
    # hydrations for solve_salt× solver parallelism on the hot key).
    # Default 1: the fixture workload's 60 sigs / 1,000 trips spread fine.
    if solve_salt > 1:
        # sig is a LONG now: sub-key by hashing (sig, salt-slot) — the
        # same value on both sides; a collision only merges solver groups
        # into a superset subgraph (harmless, see trip_cover_sigs_cells)
        cand_sig = cand_sig.withColumn(
            "sig", F.xxhash64("sig",
                              F.pmod(F.hash("trip_id"), F.lit(solve_salt))))
        sub = sub.withColumn(
            "sig", F.explode(F.array(*[
                F.xxhash64("sig", F.lit(i)) for i in range(solve_salt)])))

    def run_cog(cand_pdf: pd.DataFrame, edges_pdf: pd.DataFrame) -> pd.DataFrame:
        return _solve_cogroup_pdf(cand_pdf, edges_pdf, opts, output)

    return (
        cand_sig.groupBy("sig")
        .cogroup(sub.groupBy("sig"))
        .applyInPandas(run_cog, schema=schema)
    )


def _solve_cogroup_pdf(cand_pdf: pd.DataFrame, edges_pdf: pd.DataFrame,
                       opts: MatchOptions, output: str) -> pd.DataFrame:
    """Solve EVERY trip of one cover-signature group against the group's
    shared padded subgraph (celljoin stage B/C): build one local
    PackedGraph from the cogrouped edge rows, then remap the candidates'
    natural (edge_id, src, dst) keys to local rows (order-preserving:
    build_packed_graph canonicalizes to exactly that triple order, so
    local row i = position i in the triple-sorted subgraph) and solve per
    trip. Sharing the graph also shares the predicate cache across the
    group's trips — the per-shard-matcher economics of the reference
    (bin/matcher.rs:48-55); the group's arenas are dropped with its graph.
    R6 analog: a candidate edge missing from the subgraph (impossible when
    the padding covers the bound; defensive for skew in the equirectangular
    pad) is DOWNGRADED to an edge_row=-1 marker, never silently removed —
    removal could empty a seq's row set and shorten the trip (the
    round-4 celljoin refine-drop bug class); a marker instead yields an
    empty layer and the all-or-nothing unanchored rejection, while
    markers alongside surviving candidates are inert (layers are built
    from edge_row >= 0 rows only)."""
    if len(cand_pdf) == 0 or len(edges_pdf) == 0:
        # no subgraph: one marker point per trip, so every trip reports
        # unanchored
        tids = cand_pdf["trip_id"].unique()
        mark = np.full(len(tids), -1, dtype=np.int64)
        nan = np.full(len(tids), np.nan)
        return _solve_trips(
            None, _candidate_trips(tids, mark, mark, nan, nan, nan, nan, mark),
            opts, output)

    from routers_spark.graph.packed import build_packed_graph

    key = ["edge_id", "src", "dst"]
    edges_pdf = edges_pdf.sort_values(key, kind="stable").reset_index(drop=True)
    nodes_local = pd.DataFrame({
        "node_id": np.concatenate([edges_pdf["src"].values,
                                   edges_pdf["dst"].values]),
        "lon": np.concatenate([edges_pdf["ax"].values, edges_pdf["bx"].values]),
        "lat": np.concatenate([edges_pdf["ay"].values, edges_pdf["by"].values]),
    }).drop_duplicates("node_id")
    g = build_packed_graph(
        nodes_local, edges_pdf[["edge_id", "src", "dst", "weight"]])

    # natural key -> local row, ONE merge for the whole group (markers and
    # absent edges fall out of the left join as -1). Full-triple ties are
    # duplicate edges — interchangeable, first row wins.
    local = edges_pdf[key].copy()
    local["edge_row"] = np.arange(len(local), dtype=np.int64)
    local = local.drop_duplicates(key, keep="first")
    cand_pdf = cand_pdf.merge(local, on=key, how="left")
    cand_pdf["edge_row"] = (cand_pdf["edge_row"].fillna(-1)
                            .astype(np.int64))
    # ONE sort of the whole group; trip and seq slices via boundary scans
    cand_pdf = cand_pdf.sort_values(["trip_id", "seq", "edge_row"],
                                    kind="stable")
    seq = cand_pdf["seq"].values.astype(np.int64)
    er = cand_pdf["edge_row"].values
    frac = cand_pdf["frac"].values.astype(np.float64)
    px = cand_pdf["px"].values.astype(np.float64)
    py = cand_pdf["py"].values.astype(np.float64)
    dist = cand_pdf["dist_m"].values.astype(np.float64)
    emis = cand_pdf["emission"].values
    try:
        return _solve_trips(
            g, _candidate_trips(cand_pdf["trip_id"].values, seq, er, frac,
                                px, py, dist, emis),
            opts, output)
    finally:  # the group's graph dies here: so do its parent maps
        GLOBAL_PREDICATE_CACHE.drop(g.uid)
