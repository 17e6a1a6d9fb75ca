"""The per-trip emitters of the 'interpolated' and 'gate_union' outputs:
the oracle of ``matching.matcher._routed_cols``, which builds the same
rows for a whole batch with array operations and must equal these frames
bit for bit. Each matched trip re-derives its hops one ``reach`` call at a
time and builds its RoutedPath element list in Python. ``reach`` is the
per-pair hop oracle the other tests use too."""

from __future__ import annotations

import numpy as np

from routers_spark.graph.dijkstra import GLOBAL_PREDICATE_CACHE

from dijkstra_oracle import cache_path, edge_row


def one_cand(layer: dict, i: int) -> dict:
    """Row ``i`` of a candidate layer (or flat candidate table) as scalars."""
    return {k: (int if k == "edge_row" else float)(layer[k][i])
            for k in ("edge_row", "frac", "px", "py")}


def reach(graph, cache, src: dict, tgt: dict,
          profile=None) -> tuple[str, list[int]] | None:
    """How tgt is reached from src (Expansion::reach, expansion.rs:63-97),
    one candidate pair at a time — the hop the compiled weigher and
    ``PredicateCache.path_rows`` resolve for whole batches.

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
    nodes = cache_path(cache, graph, int(graph.edge_dst[src["edge_row"]]),
                       int(graph.edge_src[tgt["edge_row"]]), profile)
    if nodes is None:
        return None
    # filter_map semantics: a missing edge is silently skipped (G2)
    rows = (edge_row(graph, a, b) for a, b in zip(nodes, nodes[1:]))
    return ("standard", [r for r in rows if r >= 0])


def routed_cols(t, graph, status, sel, cost, profile, output: str) -> dict:
    """Drop-in for ``matcher._routed_cols``: one trip at a time."""
    acc = {k: [v[:0]] for k, v in _status_cols("", "", output).items()}
    for k in range(len(t.trip_id)):
        if status[k] == "matched":
            ls = slice(t.trip_off[k], t.trip_off[k + 1])
            cols = _emit_cols(t.trip_id[k], t.seq[ls], t.cand, sel[ls],
                              int(cost[k]), graph, profile, output)
        else:
            cols = _status_cols(t.trip_id[k], status[k], output)
        for name, v in cols.items():
            acc[name].append(v)
    return {k: np.concatenate(v) for k, v in acc.items()}


def _routed_elems(graph, cand: dict, sel, hops) -> list[tuple]:
    """The interpolated RoutedPath element list (candidate/route.rs:46-141)
    with consecutive-duplicate dedup (route.rs:131). ``sel`` holds the
    chosen candidate's row of ``cand`` per layer. Returns
    [(lon, lat, edge_id, kind), ...]."""
    elems: list[tuple[float, float, int, str]] = []

    def add(lon, lat, edge_id, kind):
        elems.append((float(lon), float(lat), int(edge_id), kind))

    er, px, py = cand["edge_row"], cand["px"], cand["py"]
    first_row = er[sel[0]]
    add(graph.ax[first_row], graph.ay[first_row], graph.edge_id[first_row],
        "edge_source")
    for k in range(len(sel) - 1):
        cur_row = er[sel[k]]
        add(px[sel[k]], py[sel[k]], graph.edge_id[cur_row], "candidate")
        resolution, path_rows = hops[k]
        if resolution == "standard":
            add(graph.bx[cur_row], graph.by[cur_row], graph.edge_id[cur_row],
                "edge_target")
            for e in path_rows:
                add(graph.ax[e], graph.ay[e], graph.edge_id[e], "bridge")
            nxt_row = er[sel[k + 1]]
            add(graph.ax[nxt_row], graph.ay[nxt_row], graph.edge_id[nxt_row],
                "edge_source")
    last_row = er[sel[-1]]
    add(px[sel[-1]], py[sel[-1]], graph.edge_id[last_row], "candidate")

    # dedup consecutive identical points (route.rs:131)
    return [e for i, e in enumerate(elems)
            if i == 0 or (e[0], e[1]) != (elems[i - 1][0], elems[i - 1][1])]


def _emit_cols(trip_id: str, seqs, cand: dict, sel, cost: int, graph,
               profile, output: str) -> dict:
    """A matched trip's 'interpolated' or 'gate_union' rows. Collapse
    re-derives the chosen hops from the warm cache (entity.rs:337-358)."""
    hops = [reach(graph, GLOBAL_PREDICATE_CACHE, one_cand(cand, sel[k]),
                  one_cand(cand, sel[k + 1]), profile)
            for k in range(len(sel) - 1)]
    dedup = _routed_elems(graph, cand, sel, hops)
    m = len(dedup)
    if output == "gate_union":
        n = len(sel)
        return {
            "trip_id": np.full(n + m, trip_id, dtype=object),
            "idx": np.concatenate([np.asarray(seqs, dtype=np.int32),
                                   np.arange(m, dtype=np.int32)]),
            "kind": np.concatenate([np.full(n, "matched", dtype=object),
                                    np.array([e[3] for e in dedup],
                                             dtype=object)]),
            "edge_id": np.concatenate([
                graph.edge_id[cand["edge_row"][sel]].astype(np.int64),
                np.array([e[2] for e in dedup], dtype=np.int64)]),
            "frac": np.concatenate([cand["frac"][sel], np.full(m, np.nan)]),
            "plon": np.concatenate([np.full(n, np.nan),
                                    np.array([e[0] for e in dedup])]),
            "plat": np.concatenate([np.full(n, np.nan),
                                    np.array([e[1] for e in dedup])]),
        }

    # interpolated (RoutedPath::new, candidate/route.rs:46-141)
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
    return {
        "trip_id": np.array([trip_id], dtype=object),
        "elem": np.array([-1], dtype=np.int32),
        "lon": np.array([np.nan]), "lat": np.array([np.nan]),
        "edge_id": np.array([-1], dtype=np.int64),
        "kind": np.array(["none"], dtype=object),
        "trip_cost": np.array([-1], dtype=np.int64),
        "status": np.array([status], dtype=object),
    }
