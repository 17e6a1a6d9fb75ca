"""Packed road graph: the executor-resident broadcast structure, and the
one way a graph reaches the workers.

The analog of the reference's pointer-free network (petgraph DiGraphMap +
FxHashMaps + two Hilbert-packed R-trees,
libs/routers_codec/src/osm/graph.rs:41-52, index.rs:42-57) re-expressed as
flat numpy arrays:

  - node id -> dense index (sorted ids, searchsorted lookup)
  - CSR adjacency (indptr/indices/edge-row) for successor scans
  - per-edge: src/dst index, class weight, haversine length in cm (u32,
    truncated exactly like the successor cache, cache.rs:204-213)
  - uniform cell-bucket spatial indexes over edge bounding boxes and over
    nodes (the packed-R-tree substitute: same query API — box -> candidate
    edge rows, point -> nearest node), each built on its first query

Distribution is the "rebuild indices on load" lifecycle of
graph.rs:145-178. ``broadcast_graph`` collects the graph on the driver,
canonicalises it into the payload arrays (``graph_payload``; nothing is
derived there) and keys it by a content digest of that payload. An equal
digest reuses the SparkContext's existing ``Broadcast``, so repeated calls
on one graph ship it once. On a worker, ``GraphHandle.graph()`` hydrates
the payload at most once per digest. The worker memo keeps the last
``HYDRATED_KEEP`` graphs, and with them their predicate-cache arenas.
"""

from __future__ import annotations

import functools
import hashlib
import itertools
import sys
from collections import OrderedDict
from typing import NamedTuple

import numpy as np

from routers_spark.config import MIN_HEADING_DIST_M
from routers_spark.functions.geo import bearing_deg_np, haversine_m_np
from routers_spark.functions.ragged import ragged_within

_GRAPH_UID = itertools.count(1)

# cell side of both spatial indexes: ~0.002 deg ≈ 200 m, sized so a 50 m
# search box touches at most 4 cells
CELL_DEG = 0.002


class PackedGraph:
    def __init__(
        self,
        node_ids: np.ndarray,      # int64, sorted
        node_lon: np.ndarray,      # float64, aligned to node_ids
        node_lat: np.ndarray,
        edge_id: np.ndarray,       # int64 per directed edge row
        edge_src: np.ndarray,      # int32 dense node index
        edge_dst: np.ndarray,      # int32 dense node index
        edge_weight: np.ndarray,   # uint32 road-class weight
        edge_fwd: np.ndarray | None = None,   # bool: forward twin?
        edge_access: list | None = None,      # per-edge (mode,dir,value) tags
    ):
        self.node_ids = node_ids
        self.node_lon = node_lon
        self.node_lat = node_lat
        self.edge_id = edge_id
        self.edge_src = edge_src
        self.edge_dst = edge_dst
        self.edge_weight = edge_weight.astype(np.uint32)
        self.edge_fwd = (np.ones(len(edge_id), dtype=bool)
                         if edge_fwd is None else np.asarray(edge_fwd, dtype=bool))
        self.edge_access = edge_access  # None = no access metadata anywhere
        self._access_masks: dict[tuple, np.ndarray] = {}
        # process-unique identity for cross-module caches; never key them by
        # id(graph), which CPython reuses once a graph is freed
        self.uid = next(_GRAPH_UID)
        self.dijkstra_kernel = None  # dijkstra._Kernel.of attaches here

        # per-edge geometry + length (cm, truncated: cache.rs:211 `as u32`)
        self.ax = node_lon[edge_src]
        self.ay = node_lat[edge_src]
        self.bx = node_lon[edge_dst]
        self.by = node_lat[edge_dst]
        self.edge_len_m = haversine_m_np(self.ax, self.ay, self.bx, self.by)
        self.edge_len_cm = (self.edge_len_m * 100.0).astype(
            np.uint64).astype(np.uint32)
        # edge bearing; NaN for degenerate <1 m edges (entry.rs:109-126),
        # the weigher's heading skip too (map_path/entity.rs:149-168)
        self.edge_heading = np.where(
            self.edge_len_m < MIN_HEADING_DIST_M, np.nan,
            bearing_deg_np(self.ax, self.ay, self.bx, self.by),
        )

        # CSR adjacency over directed edges, ordered by (src, edge row)
        n = len(node_ids)
        order = np.argsort(edge_src, kind="stable")
        self.csr_edge_row = order.astype(np.int64)
        self.csr_indptr = np.zeros(n + 1, dtype=np.int64)
        np.add.at(self.csr_indptr, edge_src + 1, 1)
        np.cumsum(self.csr_indptr, out=self.csr_indptr)

    # ------------------------------------------------------------- lookups

    def access_mask(self, profile) -> np.ndarray | None:
        """Per-edge accessibility under a TripProfile, memoised per profile
        (the runtime gate of cache.rs:297-315). None when the graph carries
        no access metadata (everything accessible — default allow)."""
        if self.edge_access is None or profile is None:
            return None
        key = profile.key()
        m = self._access_masks.get(key)
        if m is None:
            from routers_spark.graph.access import access_mask

            m = access_mask(self.edge_access, self.edge_fwd, profile)
            self._access_masks[key] = m
        return m

    # -------------------------------------------------------- spatial index

    @functools.cached_property
    def _edge_cells(self) -> dict:
        """Uniform-grid bucket index over edge bounding boxes — the packed
        R-tree substitute (X1, index.rs:42-57), built on first use. Each
        edge is registered in every cell its bbox touches (the
        padding-duplication idea of selection.rs:52-96 applied at index
        granularity); queries dedup by construction of the candidate
        mask."""
        min_x = np.minimum(self.ax, self.bx)
        max_x = np.maximum(self.ax, self.bx)
        min_y = np.minimum(self.ay, self.by)
        max_y = np.maximum(self.ay, self.by)
        x0 = float(min_x.min())
        y0 = float(min_y.min())
        cx0 = np.floor((min_x - x0) / CELL_DEG).astype(np.int64)
        cx1 = np.floor((max_x - x0) / CELL_DEG).astype(np.int64)
        cy0 = np.floor((min_y - y0) / CELL_DEG).astype(np.int64)
        cy1 = np.floor((max_y - y0) / CELL_DEG).astype(np.int64)
        nx = int(cx1.max()) + 1
        # explode edge -> covered cells (bounded: grid edges span few cells)
        counts = (cx1 - cx0 + 1) * (cy1 - cy0 + 1)
        offs = ragged_within(counts)
        w = np.repeat(cx1 - cx0 + 1, counts)
        cell = ((np.repeat(cy0, counts) + offs // w) * nx
                + np.repeat(cx0, counts) + offs % w)
        return _buckets(
            cell, np.repeat(np.arange(len(self.edge_id)), counts), x0=x0,
            y0=y0, nx=nx, ny=int(cy1.max()) + 1,
            min_x=min_x, max_x=max_x, min_y=min_y, max_y=max_y)

    def box_query_many(self, min_lon, min_lat, max_lon, max_lat):
        """Edge rows whose bbox intersects each of a batch of boxes (X2
        search, index.rs:73-79), answered in one vectorized pass: every
        box's covered cells, their buckets and the exact bbox refine.
        Returns CSR ``(offsets, rows)``: box i's rows are
        ``rows[offsets[i]:offsets[i + 1]]``, in ascending edge-row order
        (our canonical candidate order). A box with a NaN or infinite
        coordinate matches nothing."""
        ci = self._edge_cells
        cd, nx, ny = CELL_DEG, ci["nx"], ci["ny"]
        lo_x, lo_y, hi_x, hi_y = (np.asarray(v, dtype=np.float64)
                                  for v in (min_lon, min_lat, max_lon, max_lat))
        n = len(lo_x)
        ok = (np.isfinite(lo_x) & np.isfinite(lo_y)
              & np.isfinite(hi_x) & np.isfinite(hi_y))
        # clip in float, so a far-off or non-finite box never reaches an
        # integer cast (NaN would become cell 0 and invent candidates)
        with np.errstate(invalid="ignore"):
            fx0 = np.maximum(np.floor((lo_x - ci["x0"]) / cd), 0.0)
            fx1 = np.minimum(np.floor((hi_x - ci["x0"]) / cd), nx - 1.0)
            fy0 = np.maximum(np.floor((lo_y - ci["y0"]) / cd), 0.0)
            fy1 = np.minimum(np.floor((hi_y - ci["y0"]) / cd), ny - 1.0)
            ok &= (fx1 >= fx0) & (fy1 >= fy0)
        cx0, cx1, cy0, cy1 = (np.where(ok, f, 0.0).astype(np.int64)
                              for f in (fx0, fx1, fy0, fy1))
        wx = cx1 - cx0 + 1
        ncell = np.where(ok, wx * (cy1 - cy0 + 1), 0)
        box = np.repeat(np.arange(n, dtype=np.int64), ncell)
        k = ragged_within(ncell)
        cell = (cy0[box] + k // wx[box]) * nx + cx0[box] + k % wx[box]
        uniq = ci["uniq"]
        pos = np.searchsorted(uniq, cell)
        found = pos < len(uniq)
        found[found] = uniq[pos[found]] == cell[found]
        box, pos = box[found], pos[found]
        nedge = ci["ends"][pos] - ci["starts"][pos]
        box = np.repeat(box, nedge)
        rows = ci["items"][np.repeat(ci["starts"][pos], nedge)
                           + ragged_within(nedge)]
        # exact bbox intersection refine, then one sort dedups the edges a
        # box meets in several cells and orders each box's rows
        keep = ((ci["min_x"][rows] <= hi_x[box])
                & (ci["max_x"][rows] >= lo_x[box])
                & (ci["min_y"][rows] <= hi_y[box])
                & (ci["max_y"][rows] >= lo_y[box]))
        ne = np.int64(len(self.edge_id))
        key = np.unique(box[keep] * ne + rows[keep])
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(np.bincount(key // ne, minlength=n), out=offsets[1:])
        return offsets, key % ne

    # ------------------------------------------------------ nearest node 1-NN

    @functools.cached_property
    def _node_cells(self) -> dict:
        """Uniform-grid bucket index over NODES (companion to the edge-bbox
        index), built on first use: cell -> contiguous slice of node dense
        indices. Backs the ring-expansion 1-NN (X1/X3 applied to the Point
        snap)."""
        x0 = float(self.node_lon.min())
        y0 = float(self.node_lat.min())
        cx = np.floor((self.node_lon - x0) / CELL_DEG).astype(np.int64)
        cy = np.floor((self.node_lat - y0) / CELL_DEG).astype(np.int64)
        nx = int(cx.max()) + 1
        return _buckets(cy * nx + cx, np.arange(len(cx), dtype=np.int64),
                        x0=x0, y0=y0, nx=nx, ny=int(cy.max()) + 1)

    def nearest_nodes(self, lons, lats) -> np.ndarray:
        """Batched ring-expansion 1-NN: per point, grow Chebyshev cell
        shells around the center cell until the best planar-d² candidate is
        provably closer than any unseen shell (nodes in shells ≥ r+1 lie at
        ≥ r·CELL_DEG from anywhere in the center cell). Per-point cost
        scales with LOCAL density (cells visited), not node count — the
        round-2 verdict's fix for the all-nodes distance matrix. Ties break
        to the lowest dense index (= lowest node id), matching the brute
        ``argmin`` oracle (``nearest_node`` in tests/dijkstra_oracle.py).
        Returns dense indices."""
        ci = self._node_cells
        cd, nx, ny = CELL_DEG, ci["nx"], ci["ny"]
        lons = np.asarray(lons, dtype=np.float64)
        lats = np.asarray(lats, dtype=np.float64)
        n = len(lons)
        pcx = np.floor((lons - ci["x0"]) / cd).astype(np.int64)
        pcy = np.floor((lats - ci["y0"]) / cd).astype(np.int64)
        best_d2 = np.full(n, np.inf)
        best_idx = np.full(n, -1, dtype=np.int64)
        # start each point at the first shell that can touch the grid, so
        # far-outside queries skip their guaranteed-empty shells
        r0 = np.maximum.reduce([
            np.zeros(n, dtype=np.int64), -pcx, pcx - (nx - 1), -pcy,
            pcy - (ny - 1)])
        shell = r0.copy()
        # beyond this shell the whole grid has been seen
        max_shell = np.maximum.reduce([
            np.abs(pcx), np.abs(pcx - (nx - 1)),
            np.abs(pcy), np.abs(pcy - (ny - 1))])
        active = np.arange(n)

        def _ragged(starts, stops):
            cnt = np.maximum(stops - starts, 0)
            return np.repeat(starts, cnt) + ragged_within(cnt), cnt

        while len(active):
            s = shell[active]
            ax, ay = pcx[active], pcy[active]
            segs = []  # (pt_pos, cellx, celly) per shell segment
            for fixed_y, ydelta in ((True, s), (True, -s), (False, None)):
                if fixed_y:
                    yy = ay + ydelta
                    ok = (yy >= 0) & (yy < ny)
                    xs, cnt = _ragged(np.where(ok, np.maximum(ax - s, 0), 0),
                                      np.where(ok, np.minimum(ax + s, nx - 1) + 1, 0))
                    segs.append((np.repeat(np.arange(len(active)), cnt), xs,
                                 np.repeat(yy, cnt)))
                else:
                    for xdelta in (s, -s):
                        xx = ax + xdelta
                        ok = (xx >= 0) & (xx < nx) & (s > 0)
                        ys, cnt = _ragged(
                            np.where(ok, np.maximum(ay - s + 1, 0), 0),
                            np.where(ok, np.minimum(ay + s - 1, ny - 1) + 1, 0))
                        segs.append((np.repeat(np.arange(len(active)), cnt),
                                     np.repeat(xx, cnt), ys))
                if s.max() == 0:
                    break  # r=0 everywhere: only the center cell
            pt = np.concatenate([g[0] for g in segs])
            ccx = np.concatenate([g[1] for g in segs])
            ccy = np.concatenate([g[2] for g in segs])
            if s.max() == 0:  # the +s/-s rows coincide at the center
                key = ccy * nx + ccx
                _, first = np.unique(pt * np.int64(nx) * ny + key,
                                     return_index=True)
                pt, ccx, ccy = pt[first], ccx[first], ccy[first]
            if len(pt):
                key = ccy * nx + ccx
                pos = np.searchsorted(ci["uniq"], key)
                pos_c = np.minimum(pos, len(ci["uniq"]) - 1)
                found = (pos < len(ci["uniq"])) & (ci["uniq"][pos_c] == key)
                pt, pos = pt[found], pos[found]
                bs, be = ci["starts"][pos], ci["ends"][pos]
                flat, cnt = _ragged(bs, be)
                cand = ci["items"][flat]
                cpt = np.repeat(pt, cnt)
                if len(cand):
                    d2 = ((self.node_lon[cand] - lons[active][cpt]) ** 2
                          + (self.node_lat[cand] - lats[active][cpt]) ** 2)
                    # segment-min with tie -> lowest dense index: sort by
                    # (point, d2, idx), keep first row per point
                    o = np.lexsort((cand, d2, cpt))
                    cpt_s, first = np.unique(cpt[o], return_index=True)
                    sel = o[first]
                    upd = active[cpt_s]
                    better = (d2[sel] < best_d2[upd]) | (
                        (d2[sel] == best_d2[upd]) & (cand[sel] < best_idx[upd]))
                    best_d2[upd[better]] = d2[sel][better]
                    best_idx[upd[better]] = cand[sel][better]
            # finalize: unseen shells are >= shell*cd away (strict < keeps
            # exact-boundary ties expanding one more shell)
            done = (best_d2[active] < (shell[active] * cd) ** 2) | (
                shell[active] >= max_shell[active])
            shell[active] += 1
            active = active[~done]
        return best_idx

    # --------------------------------------------------------- serialization

    def to_broadcastable(self) -> dict:
        """Plain dict of arrays (pickles compactly for sc.broadcast)."""
        return {
            "node_ids": self.node_ids, "node_lon": self.node_lon,
            "node_lat": self.node_lat, "edge_id": self.edge_id,
            "edge_src": self.edge_src, "edge_dst": self.edge_dst,
            "edge_weight": self.edge_weight, "edge_fwd": self.edge_fwd,
            "edge_access": self.edge_access,
        }

    @classmethod
    def from_broadcastable(cls, d: dict) -> "PackedGraph":
        return cls(d["node_ids"], d["node_lon"], d["node_lat"], d["edge_id"],
                   d["edge_src"], d["edge_dst"], d["edge_weight"],
                   d.get("edge_fwd"), d.get("edge_access"))


def _buckets(cell: np.ndarray, items: np.ndarray, **grid) -> dict:
    """Cell bucket index: the items sorted by cell, and per occupied cell
    (``uniq``) its slice ``starts:ends`` of ``items``; plus ``grid``."""
    order = np.argsort(cell, kind="stable")
    uniq, starts = np.unique(cell[order], return_index=True)
    return dict(grid, uniq=uniq, starts=starts, items=items[order],
                ends=np.append(starts[1:], len(cell)))


# per-worker-process memo of the last HYDRATED_KEEP graphs, most recently
# used last: broadcast graphs by content digest, registry epochs by
# (path, epoch)
HYDRATED_KEEP = 2
_HYDRATED: dict[object, PackedGraph] = {}


def hydrate(bc, key: str) -> PackedGraph:
    """The worker's graph of the broadcast payload ``bc.value``, memoised
    under ``key`` (pyspark's Broadcast exposes no id on executors)."""
    return worker_graph(key, lambda: PackedGraph.from_broadcastable(bc.value))


def worker_graph(key, build) -> PackedGraph:
    """The memoised graph under ``key``, else ``build()``'s. Past
    ``HYDRATED_KEEP`` graphs the least recently used one is evicted with
    its predicate-cache arenas and compiled-kernel arrays."""
    g = _HYDRATED.pop(key, None)
    if g is None:
        while len(_HYDRATED) >= HYDRATED_KEEP:
            old = _HYDRATED.pop(next(iter(_HYDRATED)))
            old.dijkstra_kernel = None
            dijkstra = sys.modules.get("routers_spark.graph.dijkstra")
            if dijkstra is not None:
                dijkstra.GLOBAL_PREDICATE_CACHE.drop(old.uid)
        g = build()
    _HYDRATED[key] = g
    return g


def graph_digest(payload: dict) -> str:
    """sha256 of a graph payload (``graph_payload``, ``to_broadcastable``):
    every array with its dtype and shape, and the access tags. Equal graphs
    get equal digests."""
    h = hashlib.sha256()
    for name, v in payload.items():
        if isinstance(v, np.ndarray):
            h.update(f"{name}:{v.dtype.str}{v.shape}".encode())
            h.update(np.ascontiguousarray(v).data)
        else:
            h.update(f"{name}:{v!r}".encode())
    return h.hexdigest()


class GraphHandle(NamedTuple):
    """What a task closure captures of a broadcast graph. ``graph()`` is
    the worker's hydrated graph."""

    bc: object
    key: str

    def graph(self) -> PackedGraph:
        return hydrate(self.bc, self.key)


def broadcast_graph(nodes_df, edges_df,
                    limit_rows: int | None = None) -> GraphHandle:
    """Collect, pack and broadcast nodes(node_id, lon, lat) /
    edges(edge_id, src, dst, weight[, fwd, access]).

    Past ``limit_rows`` rows on either side the collect stops with a
    ``ValueError``; ``limit(N + 1).toPandas()`` is the probe and the
    collect in one job. An equal digest reuses its ``Broadcast``. The
    registry lives on the SparkContext object, so a stopped context's
    broadcasts are never handed out; past ``HYDRATED_KEEP`` graphs the
    oldest is unpersisted, never destroyed: a frame returned earlier may
    still run against it."""
    pdfs = []
    for side, df in (("nodes", nodes_df), ("edges", edges_df)):
        if limit_rows is not None:
            df = df.limit(limit_rows + 1)
        pdfs.append(df.toPandas())
        if limit_rows is not None and len(pdfs[-1]) > limit_rows:
            raise ValueError(
                f"{side} table exceeds the broadcast limit of {limit_rows} "
                f"rows; use candidate_path='celljoin' (the no-broadcast "
                f"scale path) or raise the limit.")
    payload = graph_payload(*pdfs)
    key = graph_digest(payload)
    sc = nodes_df.sparkSession.sparkContext
    if not hasattr(sc, "_routers_spark_graphs"):
        sc._routers_spark_graphs = OrderedDict()
    registry = sc._routers_spark_graphs
    bc = registry.pop(key, None)
    if bc is None:
        while len(registry) >= HYDRATED_KEEP:
            registry.popitem(last=False)[1].unpersist()
        bc = sc.broadcast(payload)
    registry[key] = bc
    return GraphHandle(bc, key)


def _normalize_access(col) -> list | None:
    """Edges' optional ``access`` column → list of (mode, dir, value) triple
    lists. Accepts dicts, pyspark Rows, or (mode, dir, value) sequences."""
    if col is None:
        return None
    out = []
    any_tags = False
    for tags in col:
        if tags is None or len(tags) == 0:
            out.append(())
            continue
        any_tags = True
        norm = []
        for t in tags:
            if isinstance(t, dict):
                norm.append((t["mode"], t["dir"], t["value"]))
            elif hasattr(t, "mode"):
                norm.append((t.mode, t.dir, t.value))
            else:
                norm.append((t[0], t[1], t[2]))
        out.append(tuple(norm))
    return out if any_tags else None


def _node_rows(node_ids: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Row of each id in the sorted ``node_ids``; IndexError naming the
    first id that is not a node."""
    rows = np.searchsorted(node_ids, ids)
    miss = rows >= len(node_ids)
    miss[~miss] = node_ids[rows[~miss]] != ids[~miss]
    if miss.any():
        raise IndexError(f"edge endpoint {ids[miss][0]} is not a node id")
    return rows.astype(np.int32)


def graph_payload(nodes_pdf, edges_pdf) -> dict:
    """The broadcast payload of pandas frames nodes(node_id, lon, lat),
    edges(edge_id, src, dst, weight[, fwd, access]): the canonical arrays
    :class:`PackedGraph` is built from, and nothing derived from them.

    Edges are canonicalized to (edge_id, src, dst) order so edge_row indices
    agree with the distributed cell-join candidate generator
    (shard/partition.py) — candidate order drives trellis tie-breaks."""
    edges_pdf = edges_pdf.sort_values(["edge_id", "src", "dst"],
                                      kind="stable").reset_index(drop=True)
    order = np.argsort(nodes_pdf["node_id"].values)
    node_ids = nodes_pdf["node_id"].values[order].astype(np.int64)
    node_lon = nodes_pdf["lon"].values[order].astype(np.float64)
    node_lat = nodes_pdf["lat"].values[order].astype(np.float64)
    src_idx, dst_idx = (_node_rows(node_ids, edges_pdf[c].values)
                        for c in ("src", "dst"))
    fwd = (edges_pdf["fwd"].values.astype(bool)
           if "fwd" in edges_pdf.columns else np.ones(len(edges_pdf), bool))
    access = (_normalize_access(edges_pdf["access"].tolist())
              if "access" in edges_pdf.columns else None)
    return {
        "node_ids": node_ids, "node_lon": node_lon, "node_lat": node_lat,
        "edge_id": edges_pdf["edge_id"].values.astype(np.int64),
        "edge_src": src_idx, "edge_dst": dst_idx,
        "edge_weight": edges_pdf["weight"].values.astype(np.uint32),
        "edge_fwd": fwd, "edge_access": access,
    }


def build_packed_graph(nodes_pdf, edges_pdf) -> PackedGraph:
    """The :class:`PackedGraph` of :func:`graph_payload`'s frames."""
    return PackedGraph.from_broadcastable(graph_payload(nodes_pdf, edges_pdf))
