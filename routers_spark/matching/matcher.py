"""HMM/Viterbi map matching: the engine's primary query.

Spark shape (SURVEY.md §3.1), two candidate paths:
  - broadcast: the road graph is packed + broadcast once (north rule:
    "broadcast packed R-tree"); trips shuffle once on trip_id and a
    ``mapInPandas`` runs over the trip-sorted partitions, candidate
    generation (X6) running against the executor-resident graph
  - celljoin: candidates come from a distributed cell-cover equi-join and
    a ``cogroup.applyInPandas`` per cover signature solves that group's
    trips against its shared padded subgraph
Both feed one solve path (``_solve_trips``): boundary weighing (M4-M9)
batched across consecutive trips, then per trip Viterbi (M11) and collapse
(M15/16), with a process-wide predicate LRU (O4), emitting column arrays
that become ONE frame per Arrow batch or cogroup group. No per-row Python
at the DataFrame level.

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
    NO_EDGE,
)
from routers_spark.functions.geo import (
    haversine_m_np,
    line_locate_point_np,
    point_at_ratio_np,
    square_box_np,
)
from routers_spark.graph.dijkstra import (
    GLOBAL_PREDICATE_CACHE,
    parent_path_pm,
)
from routers_spark.matching import costing
from routers_spark.matching.trellis import Trellis, Unreachable
from routers_spark.matching.weigh import weigh_boundaries


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


def candidates_for_points(graph, lons, lats, search_distance: float,
                          emission_error: float,
                          costing_strategies=None) -> list[dict]:
    """M1/X6 candidate layers, one per point (the rayon par-iter analog,
    generation/mod.rs:33-37): box queries per point, then ONE vectorized
    projection/emission pass over every (point, candidate-edge) pair. A
    layer holds one candidate per edge intersecting the point's square
    box — projected position, distance, emission cost — in ascending edge
    row order (stable; the trellis tie-breaks depend on it)."""
    lons = np.asarray(lons, dtype=np.float64)
    lats = np.asarray(lats, dtype=np.float64)
    min_lon, min_lat, max_lon, max_lat = square_box_np(lons, lats, search_distance)
    per_point = [
        graph.box_query(min_lon[i], min_lat[i], max_lon[i], max_lat[i])
        for i in range(len(lons))
    ]
    counts = np.array([len(r) for r in per_point])
    if counts.sum() == 0:
        empty = {
            "edge_row": np.empty(0, dtype=np.int64), "frac": np.empty(0),
            "px": np.empty(0), "py": np.empty(0), "dist_m": np.empty(0),
            "emission": np.empty(0, dtype=np.uint32),
        }
        return [dict(empty) for _ in per_point]
    rows = np.concatenate([r for r in per_point if len(r)])
    p_lon = np.repeat(lons, counts)
    p_lat = np.repeat(lats, counts)
    ax, ay = graph.ax[rows], graph.ay[rows]
    bx, by = graph.bx[rows], graph.by[rows]
    frac = line_locate_point_np(ax, ay, bx, by, p_lon, p_lat)
    frac_f = np.where(np.isnan(frac), 0.0, frac)
    px, py = point_at_ratio_np(ax, ay, bx, by, frac_f)
    dist = haversine_m_np(px, py, p_lon, p_lat)
    estrat = (costing_strategies.emission
              if costing_strategies is not None else None)
    emission = costing.emission_cost_u32(dist, emission_error, estrat)
    out = []
    off = 0
    for c in counts:
        sl = slice(off, off + c)
        out.append({
            "edge_row": rows[sl], "frac": frac[sl], "px": px[sl],
            "py": py[sl], "dist_m": dist[sl], "emission": emission[sl],
        })
        off += c
    return out


# ------------------------------------------------------------ transitions


def reach(graph, cache, src: dict, tgt: dict,
          profile=None) -> tuple[str, list[int]] | None:
    """How tgt is reached from src (Expansion::reach, expansion.rs:63-97).

    Returns (resolution, path_edge_rows) or None when unreachable.
    resolution: 'direct' (same-edge DistanceOnly) or 'standard'.
    """
    if src["edge_row"] == tgt["edge_row"]:
        # same directed edge: ahead → direct; degenerate frac → unreachable
        if np.isnan(src["frac"]) or np.isnan(tgt["frac"]):
            return None
        if src["frac"] <= tgt["frac"]:
            return ("direct", [])
        # same-edge backtrack falls through to routing
    root = int(graph.edge_dst[src["edge_row"]])
    leaf = int(graph.edge_src[tgt["edge_row"]])
    pm = cache.query(graph, root, profile)
    nodes = parent_path_pm(pm, root, leaf)
    if nodes is None:
        return None
    path_rows = []
    for a, b in zip(nodes, nodes[1:]):
        r = graph.edge_row(a, b)
        if r >= 0:  # filter_map semantics: silently skip missing (G2)
            path_rows.append(r)
    return ("standard", path_rows)


# ------------------------------------------------------------- trip solver


def _cand(layer: dict, i: int) -> dict:
    return {
        "edge_row": int(layer["edge_row"][i]),
        "frac": float(layer["frac"][i]),
        "px": float(layer["px"][i]),
        "py": float(layer["py"][i]),
    }


def solve_trip(graph, layers: list[dict], opts: MatchOptions,
               boundary_keys: list | None = None,
               boundary_cache: dict | None = None) -> dict:
    """Weigh + solve + collapse one trip. Returns
    {status, breaks, path, cost, hops, trellis} where path[i] is the chosen
    candidate index per layer, hops[i] the (resolution, path_rows) of
    boundary i, and trellis the solved Trellis (reused for convergence
    queries by the streaming matcher — one weigh per micro-batch, not two).

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
    return _viterbi_collapse(
        graph, layers, [boundary_cache[boundary_keys[k]] for k in range(nb)],
        opts)


def _unsolved(status: str, breaks: list, trellis=None) -> dict:
    return {"status": status, "breaks": breaks, "path": None, "cost": None,
            "hops": None, "trellis": trellis}


def _viterbi_collapse(graph, layers: list[dict], mats: list[np.ndarray],
                      opts: MatchOptions) -> dict:
    """Viterbi over a trip's weighed boundary matrices, then collapse: the
    second half of ``solve_trip``, shared with the batched ``_solve_trips``."""
    t = Trellis([len(layers[0]["edge_row"])])
    t.fill_nodes(0, layers[0]["emission"])
    for layer in layers[1:]:
        t.add_layer(len(layer["edge_row"]), layer["emission"])
    for k, mat in enumerate(mats):
        if not np.all(mat == np.uint32(NO_EDGE)):
            t.fill_transition(k, mat)

    breaks = t.disconnections()
    if breaks:
        return _unsolved("disconnected", breaks, t)
    try:
        path, cost = t.solve()
    except Unreachable:
        return _unsolved("unreachable", [], t)

    # collapse: re-derive chosen hops from the warm cache (entity.rs:337-358)
    hops = []
    for k in range(len(path) - 1):
        hops.append(reach(graph, GLOBAL_PREDICATE_CACHE,
                          _cand(layers[k], path[k]),
                          _cand(layers[k + 1], path[k + 1]), opts.profile))
    return {"status": "matched", "breaks": [], "path": path, "cost": cost,
            "hops": hops, "trellis": t}


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
# cuts a weigh_boundaries call at the next trip edge: ~90 boundaries of the
# grid benchmark's trips. One call per whole Arrow batch measured ~10% less
# kernel time but more than doubled each worker's peak RSS.
WEIGH_PAIR_BUDGET = 6_000


def _trip_bounds(tid) -> np.ndarray:
    """Start offsets of each trip's contiguous rows, plus the end."""
    cuts = np.nonzero(tid[1:] != tid[:-1])[0] + 1
    return np.concatenate([[0], cuts, [len(tid)]]).astype(np.int64)


def _broadcast_trips(tid, seq, lon, lat, graph, opts: MatchOptions):
    """Broadcast path: (trip_id, seqs, layers) per trip of trip-contiguous
    raw point rows, with ONE candidate search over the whole batch against
    the executor-resident graph. Rows are seq-sorted within each trip
    first (a stable sort, so equal seqs keep their arrival order)."""
    if not len(tid):
        return []
    bounds = _trip_bounds(tid)
    trip_of = np.repeat(np.arange(len(bounds) - 1), np.diff(bounds))
    o = np.lexsort((seq, trip_of))
    seq, lon, lat = seq[o], lon[o], lat[o]
    layers = candidates_for_points(graph, lon, lat, opts.search_distance,
                                   opts.emission_error, opts.costing)
    return [(tid[s], seq[s:e], layers[s:e])
            for s, e in zip(bounds[:-1], bounds[1:])]


def _candidate_trips(tid, seq, er, frac, px, py, dist, emis):
    """Celljoin path: (trip_id, seqs, layers) per trip of pre-joined
    candidate column arrays sorted by (trip_id, seq, edge_row).
    edge_row == -1 marks an unanchored point (empty layer)."""
    if not len(tid):
        return
    bounds = _trip_bounds(tid)
    for s, e in zip(bounds[:-1], bounds[1:]):
        sb = s + _trip_bounds(seq[s:e])
        layers = []
        for a, b in zip(sb[:-1], sb[1:]):
            m = er[a:b] >= 0
            layers.append({
                "edge_row": er[a:b][m],
                "frac": frac[a:b][m],
                "px": px[a:b][m], "py": py[a:b][m],
                "dist_m": dist[a:b][m],
                "emission": emis[a:b][m].astype(np.uint32),
            })
        yield tid[s], seq[sb[:-1]], layers


def _solve_trips(graph, trips, opts: MatchOptions,
                 output: str) -> pd.DataFrame:
    """The one solve path of both candidate paths and every output mode.
    ``trips`` yields (trip_id, seqs, layers). Unanchored layers are dropped
    first under streaming semantics. The boundaries of consecutive
    anchored trips are weighed together, one ``weigh_boundaries`` call per
    ~``WEIGH_PAIR_BUDGET`` candidate pairs, then every trip runs Viterbi
    and collapse and becomes column arrays: its output rows, or a status
    row when it does not match. ONE frame is built from all of them, in
    trip order (per-trip frames + concat measured ~25% of warm broadcast
    solver wall); it is seeded with the output's typed empty columns, so
    no trips still yields a schema-typed frame."""
    acc = {k: [v[:0]] for k, v in _status_cols("", "", output).items()}
    chunk: list[tuple] = []  # (trip_id, seqs, layers, status or None)

    def flush():
        boundaries = [b for _, _, layers, st in chunk if st is None
                      for b in zip(layers, layers[1:])]
        mats = weigh_boundaries(
            graph, GLOBAL_PREDICATE_CACHE, boundaries,
            fanout=opts.selective_fanout, profile=opts.profile,
            costing=opts.costing) if boundaries else []
        off = 0
        for trip_id, seqs, layers, status in chunk:
            if status is None:
                nb = len(layers) - 1
                result = _viterbi_collapse(graph, layers, mats[off:off + nb],
                                           opts)
                off += nb
                status = result["status"]
            cols = (_emit_cols(trip_id, seqs, layers, result, graph, output)
                    if status == "matched"
                    else _status_cols(trip_id, status, output))
            for k, v in cols.items():
                acc[k].append(v)
        chunk.clear()

    pairs = 0
    for trip_id, seqs, layers in trips:
        if opts.drop_unanchored:
            keep = [i for i, l in enumerate(layers) if len(l["edge_row"]) > 0]
            layers = [layers[i] for i in keep]
            seqs = seqs[keep]
        widths = [len(l["edge_row"]) for l in layers]
        if not layers or 0 in widths:
            chunk.append((trip_id, seqs, layers, "unanchored"))
            continue
        chunk.append((trip_id, seqs, layers, None))
        pairs += sum(a * b for a, b in zip(widths, widths[1:]))
        if pairs >= WEIGH_PAIR_BUDGET:
            flush()
            pairs = 0
    flush()
    return pd.DataFrame({k: np.concatenate(v) for k, v in acc.items()})


def _routed_elems(layers, path, hops, graph) -> list[tuple]:
    """The interpolated RoutedPath element list (candidate/route.rs:46-141)
    with consecutive-duplicate dedup (route.rs:131) — shared by the
    'interpolated' and 'gate_union' emitters. Returns
    [(lon, lat, edge_id, kind), ...]."""
    elems: list[tuple[float, float, int, str]] = []

    def add(lon, lat, edge_id, kind):
        elems.append((float(lon), float(lat), int(edge_id), kind))

    first_row = layers[0]["edge_row"][path[0]]
    add(graph.ax[first_row], graph.ay[first_row], graph.edge_id[first_row],
        "edge_source")
    for k in range(len(path) - 1):
        cur_row = layers[k]["edge_row"][path[k]]
        add(layers[k]["px"][path[k]], layers[k]["py"][path[k]],
            graph.edge_id[cur_row], "candidate")
        resolution, path_rows = hops[k]
        if resolution == "standard":
            add(graph.bx[cur_row], graph.by[cur_row], graph.edge_id[cur_row],
                "edge_target")
            for e in path_rows:
                add(graph.ax[e], graph.ay[e], graph.edge_id[e], "bridge")
            nxt_row = layers[k + 1]["edge_row"][path[k + 1]]
            add(graph.ax[nxt_row], graph.ay[nxt_row], graph.edge_id[nxt_row],
                "edge_source")
    last_row = layers[-1]["edge_row"][path[-1]]
    add(layers[-1]["px"][path[-1]], layers[-1]["py"][path[-1]],
        graph.edge_id[last_row], "candidate")

    # dedup consecutive identical points (route.rs:131)
    return [e for i, e in enumerate(elems)
            if i == 0 or (e[0], e[1]) != (elems[i - 1][0], elems[i - 1][1])]


def _emit_cols(trip_id: str, seqs, layers, result, graph,
               output: str) -> dict:
    path, cost, hops = result["path"], result["cost"], result["hops"]
    if output == "discretized":
        n = len(path)
        rows_sel = np.array([layers[k]["edge_row"][path[k]] for k in range(n)],
                            dtype=np.int64)
        return {
            "trip_id": np.full(n, trip_id, dtype=object),
            "seq": np.asarray(seqs, dtype=np.int32),
            "edge_id": graph.edge_id[rows_sel].astype(np.int64),
            "matched_lon": np.array(
                [layers[k]["px"][path[k]] for k in range(n)]),
            "matched_lat": np.array(
                [layers[k]["py"][path[k]] for k in range(n)]),
            "frac": np.array(
                [layers[k]["frac"][path[k]] for k in range(n)]),
            "dist_m": np.array(
                [layers[k]["dist_m"][path[k]] for k in range(n)]),
            "emission": np.array(
                [layers[k]["emission"][path[k]] for k in range(n)],
                dtype=np.int64),
            "trip_cost": np.full(n, cost, dtype=np.int64),
            "status": np.full(n, "matched", dtype=object),
        }

    if output == "gate_union":
        n = len(path)
        rows_sel = np.array([layers[k]["edge_row"][path[k]] for k in range(n)],
                            dtype=np.int64)
        dedup = _routed_elems(layers, path, hops, graph)
        m = len(dedup)
        return {
            "trip_id": np.full(n + m, trip_id, dtype=object),
            "idx": np.concatenate([np.asarray(seqs, dtype=np.int32),
                                   np.arange(m, dtype=np.int32)]),
            "kind": np.concatenate([np.full(n, "matched", dtype=object),
                                    np.array([e[3] for e in dedup],
                                             dtype=object)]),
            "edge_id": np.concatenate([
                graph.edge_id[rows_sel].astype(np.int64),
                np.array([e[2] for e in dedup], dtype=np.int64)]),
            "frac": np.concatenate([
                np.array([layers[k]["frac"][path[k]] for k in range(n)]),
                np.full(m, np.nan)]),
            "plon": np.concatenate([np.full(n, np.nan),
                                    np.array([e[0] for e in dedup])]),
            "plat": np.concatenate([np.full(n, np.nan),
                                    np.array([e[1] for e in dedup])]),
        }

    # interpolated (RoutedPath::new, candidate/route.rs:46-141)
    dedup = _routed_elems(layers, path, hops, graph)
    m = len(dedup)
    return {
        "trip_id": np.full(m, trip_id, dtype=object),
        "elem": np.arange(m, dtype=np.int32),
        "lon": np.array([e[0] for e in dedup]),
        "lat": np.array([e[1] for e in dedup]),
        "edge_id": np.array([e[2] for e in dedup], dtype=np.int64),
        "kind": np.array([e[3] for e in dedup], dtype=object),
        "trip_cost": np.full(m, cost, dtype=np.int64),
        "status": np.full(m, "matched", dtype=object),
    }


def _status_cols(trip_id: str, status: str, output: str) -> dict:
    if output == "gate_union":
        # non-matched trips emit NO rows: the gate consumers filter
        # status='matched' anyway, so this is the same row multiset
        return {
            "trip_id": np.empty(0, dtype=object),
            "idx": np.empty(0, dtype=np.int32),
            "kind": np.empty(0, dtype=object),
            "edge_id": np.empty(0, dtype=np.int64),
            "frac": np.empty(0), "plon": np.empty(0), "plat": np.empty(0),
        }
    if output == "discretized":
        return {
            "trip_id": np.array([trip_id], dtype=object),
            "seq": np.array([-1], dtype=np.int32),
            "edge_id": np.array([-1], dtype=np.int64),
            "matched_lon": np.array([np.nan]),
            "matched_lat": np.array([np.nan]),
            "frac": np.array([np.nan]), "dist_m": np.array([np.nan]),
            "emission": np.array([-1], dtype=np.int64),
            "trip_cost": np.array([-1], dtype=np.int64),
            "status": np.array([status], dtype=object),
        }
    return {
        "trip_id": np.array([trip_id], dtype=object),
        "elem": np.array([-1], dtype=np.int32),
        "lon": np.array([np.nan]), "lat": np.array([np.nan]),
        "edge_id": np.array([-1], dtype=np.int64),
        "kind": np.array(["none"], dtype=object),
        "trip_cost": np.array([-1], dtype=np.int64),
        "status": np.array([status], dtype=object),
    }


def match_trips(points_df, nodes_df, edges_df, opts: MatchOptions | None = None,
                output: str = "discretized", candidate_path: str = "broadcast",
                salt: int = 0, solve_salt: int = 1,
                broadcast_limit_rows: int = 5_000_000):
    """M17 facade: match every trip in points_df(trip_id, seq, lon, lat)
    against the road graph given as nodes(node_id, lon, lat) /
    edges(edge_id, src, dst, weight) DataFrames.

    candidate_path:
      - "broadcast": the graph is collected once, packed, broadcast; trips
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
        import uuid
        from collections.abc import Iterator

        from routers_spark.graph.packed import build_packed_graph, hydrate

        spark = points_df.sparkSession
        # Guard the driver collect: a graph past the broadcast envelope must
        # go through the distributed celljoin path, not OOM the driver. The
        # probe and the collect are ONE job per side — limit(N+1).toPandas()
        # early-terminates past the envelope and doubles as the collect
        # under it, so expensive upstream lineage executes once, not three
        # times (probe-count ×2 + toPandas). Covers BOTH tables (a sparse
        # network can have few edges but an enormous nodes table).
        def _collect_bounded(df_side, side):
            if broadcast_limit_rows is None:
                return df_side.toPandas()
            pdf = df_side.limit(broadcast_limit_rows + 1).toPandas()
            if len(pdf) > broadcast_limit_rows:
                raise ValueError(
                    f"match_trips: {side} table exceeds "
                    f"broadcast_limit_rows={broadcast_limit_rows}; use "
                    f"candidate_path='celljoin' (the no-broadcast scale "
                    f"path) or raise the limit.")
            return pdf

        g = build_packed_graph(_collect_bounded(nodes_df, "nodes"),
                               _collect_bounded(edges_df, "edges"))
        bc = spark.sparkContext.broadcast(g.to_broadcastable())
        bc_key = uuid.uuid4().hex
        n_part = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1)

        # ONE shuffle on trip_id, then mapInPandas over trip-sorted
        # partitions: hundreds of trips share each Arrow batch, vs one
        # Arrow round-trip per 10-row group under groupBy.applyInPandas
        # (per-group dispatch dominated the matcher's wall time at scale).
        # Trips split across batch boundaries are carried forward — rows of
        # a trip are contiguous (and seq-sorted) after sortWithinPartitions.
        def run_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            graph = hydrate(bc, bc_key)

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
        admitted_edge_coords(
            edges_df.select("edge_id", "src", "dst", "weight"), nodes_df,
            points_df, pad_m=pad_m, cell_deg=0.02),
        "celljoin_edge_coords")
    cand = candidates_cell_join(
        points_df, nodes_df, edges_df,
        search_m=opts.search_distance, emission_error=opts.emission_error,
        salt=salt, edge_coords=pruned,
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
    (bin/matcher.rs:48-55).
    R6 analog: a candidate edge missing from the subgraph (impossible when
    the padding covers the bound; defensive for skew in the equirectangular
    pad) is DOWNGRADED to an edge_row=-1 marker, never silently removed —
    removal could empty a seq's row set and shorten the trip (the
    round-4 celljoin refine-drop bug class); a marker instead yields an
    empty layer and the all-or-nothing unanchored rejection, while
    markers alongside surviving candidates are inert (layers are built
    from edge_row >= 0 rows only)."""
    if len(cand_pdf) == 0 or len(edges_pdf) == 0:
        return _solve_trips(
            None, [(t, np.empty(0, dtype=np.int64), [])
                   for t in cand_pdf["trip_id"].unique()],
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
    return _solve_trips(
        g, _candidate_trips(cand_pdf["trip_id"].values, seq, er, frac, px,
                            py, dist, emis),
        opts, output)
