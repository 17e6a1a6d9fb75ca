"""Packed road graph: the executor-resident broadcast structure.

The analog of the reference's pointer-free network (petgraph DiGraphMap +
FxHashMaps + two Hilbert-packed R-trees,
libs/routers_codec/src/osm/graph.rs:41-52, index.rs:42-57) re-expressed as
flat numpy arrays:

  - node id -> dense index (sorted ids, searchsorted lookup)
  - CSR adjacency (indptr/indices/edge-row) for successor scans
  - per-edge: src/dst index, class weight, haversine length in cm (u32,
    truncated exactly like the successor cache, cache.rs:204-213)
  - a uniform cell-bucket spatial index over edge bounding boxes (the
    packed-R-tree substitute: same query API — box -> candidate edge rows)

One instance is built on the driver, broadcast once, and memoised per
executor process (module-level cache) — the "rebuild indices on load"
lifecycle of graph.rs:145-178.
"""

from __future__ import annotations

import itertools

import numpy as np

from routers_spark.functions.geo import haversine_m_np

_GRAPH_UID = itertools.count(1)


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
        # process-unique identity for cross-module caches (predicate LRU
        # keys). NEVER key such caches by id(graph): celljoin creates and
        # frees one small graph per trip, and CPython reuses freed ids —
        # a stale cache entry for a dead graph would serve another graph's
        # indices (caught as an IndexError at sf0.1; silent wrong answers
        # were possible when sizes lined up).
        self.uid = next(_GRAPH_UID)
        self.dijkstra_kernel = None  # dijkstra._Kernel.of attaches here

        # per-edge geometry + length (cm, truncated: cache.rs:211 `as u32`)
        self.ax = node_lon[edge_src]
        self.ay = node_lat[edge_src]
        self.bx = node_lon[edge_dst]
        self.by = node_lat[edge_dst]
        len_m = haversine_m_np(self.ax, self.ay, self.bx, self.by)
        self.edge_len_cm = (len_m * 100.0).astype(np.uint64).astype(np.uint32)
        # edge bearing; NaN for degenerate <1 m edges (entry.rs:109-126)
        from routers_spark.functions.geo import bearing_deg_np

        self.edge_heading = np.where(
            len_m < 1.0, np.nan,
            bearing_deg_np(self.ax, self.ay, self.bx, self.by),
        )

        # CSR adjacency over directed edges, ordered by (src, edge row)
        n = len(node_ids)
        order = np.argsort(edge_src, kind="stable")
        self.csr_edge_row = order.astype(np.int64)
        self.csr_indptr = np.zeros(n + 1, dtype=np.int64)
        np.add.at(self.csr_indptr, edge_src + 1, 1)
        np.cumsum(self.csr_indptr, out=self.csr_indptr)

        # (src, dst) -> edge row lookup (G2 edge(a,b), graph.rs:346-355);
        # first matching row wins, mirroring the single-edge graph map.
        key = edge_src.astype(np.int64) * n + edge_dst.astype(np.int64)
        korder = np.argsort(key, kind="stable")
        self._pair_keys = key[korder]
        self._pair_rows = korder.astype(np.int64)
        self._n_nodes = n

        self._cell_index = None

    # ------------------------------------------------------------- lookups

    def node_index(self, ids) -> np.ndarray:
        idx = np.searchsorted(self.node_ids, ids)
        return idx

    def edge_row(self, src_idx: int, dst_idx: int) -> int:
        """Edge row for (src, dst) dense indices, or -1 (G2)."""
        key = src_idx * self._n_nodes + dst_idx
        i = np.searchsorted(self._pair_keys, key)
        if i < len(self._pair_keys) and self._pair_keys[i] == key:
            return int(self._pair_rows[i])
        return -1

    def successors(self, node_idx: int):
        """Outgoing edge rows of a node (G1 edges_outof)."""
        lo, hi = self.csr_indptr[node_idx], self.csr_indptr[node_idx + 1]
        return self.csr_edge_row[lo:hi]

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

    def build_cell_index(self, cell_deg: float = 0.002):
        """Uniform-grid bucket index over edge bounding boxes — the packed
        R-tree substitute (X1, index.rs:42-57). Each edge is registered in
        every cell its bbox touches (the padding-duplication idea of
        selection.rs:52-96 applied at index granularity); queries dedup by
        construction of the candidate mask.

        cell_deg ~0.002 deg ≈ 200 m: sized so a 50 m search box touches at
        most 4 cells.
        """
        min_x = np.minimum(self.ax, self.bx)
        max_x = np.maximum(self.ax, self.bx)
        min_y = np.minimum(self.ay, self.by)
        max_y = np.maximum(self.ay, self.by)
        x0 = float(min_x.min())
        y0 = float(min_y.min())
        cx0 = np.floor((min_x - x0) / cell_deg).astype(np.int64)
        cx1 = np.floor((max_x - x0) / cell_deg).astype(np.int64)
        cy0 = np.floor((min_y - y0) / cell_deg).astype(np.int64)
        cy1 = np.floor((max_y - y0) / cell_deg).astype(np.int64)
        nx = int(cx1.max()) + 1
        ny = int(cy1.max()) + 1

        # explode edge -> covered cells (bounded: grid edges span few cells)
        counts = (cx1 - cx0 + 1) * (cy1 - cy0 + 1)
        total = int(counts.sum())
        edge_of = np.repeat(np.arange(len(self.edge_id)), counts)
        # per-edge local cell offsets
        offs = np.arange(total) - np.repeat(np.cumsum(counts) - counts, counts)
        w = np.repeat(cx1 - cx0 + 1, counts)
        dx = offs % w
        dy = offs // w
        cell = (np.repeat(cy0, counts) + dy) * nx + (np.repeat(cx0, counts) + dx)

        order = np.argsort(cell, kind="stable")
        cell_sorted = cell[order]
        edge_sorted = edge_of[order]
        uniq, starts = np.unique(cell_sorted, return_index=True)
        self._cell_index = {
            "x0": x0, "y0": y0, "cell_deg": cell_deg, "nx": nx, "ny": ny,
            "uniq": uniq, "starts": starts,
            "ends": np.append(starts[1:], len(cell_sorted)),
            "edges": edge_sorted,
        }
        return self

    def box_query(self, min_lon, min_lat, max_lon, max_lat) -> np.ndarray:
        """Edge rows whose bbox intersects the box (X2 search, index.rs:73-79),
        in edge-row order (our canonical candidate order)."""
        ci = self._cell_index
        cd = ci["cell_deg"]
        cx0 = max(int(np.floor((min_lon - ci["x0"]) / cd)), 0)
        cx1 = min(int(np.floor((max_lon - ci["x0"]) / cd)), ci["nx"] - 1)
        cy0 = max(int(np.floor((min_lat - ci["y0"]) / cd)), 0)
        cy1 = min(int(np.floor((max_lat - ci["y0"]) / cd)), ci["ny"] - 1)
        if cx1 < cx0 or cy1 < cy0:
            return np.empty(0, dtype=np.int64)
        cells = [
            cy * ci["nx"] + cx
            for cy in range(cy0, cy1 + 1)
            for cx in range(cx0, cx1 + 1)
        ]
        pos = np.searchsorted(ci["uniq"], cells)
        chunks = []
        for p, c in zip(pos, cells):
            if p < len(ci["uniq"]) and ci["uniq"][p] == c:
                chunks.append(ci["edges"][ci["starts"][p]:ci["ends"][p]])
        if not chunks:
            return np.empty(0, dtype=np.int64)
        cand = np.unique(np.concatenate(chunks))
        # exact bbox intersection refine
        keep = (
            (np.minimum(self.ax[cand], self.bx[cand]) <= max_lon)
            & (np.maximum(self.ax[cand], self.bx[cand]) >= min_lon)
            & (np.minimum(self.ay[cand], self.by[cand]) <= max_lat)
            & (np.maximum(self.ay[cand], self.by[cand]) >= min_lat)
        )
        return cand[keep]

    # ------------------------------------------------------ nearest node 1-NN

    def build_node_cell_index(self, cell_deg: float = 0.002):
        """Uniform-grid bucket index over NODES (companion to the edge-bbox
        index): cell -> contiguous slice of node dense indices. Backs the
        ring-expansion 1-NN (X1/X3 applied to the Point snap)."""
        x0 = float(self.node_lon.min())
        y0 = float(self.node_lat.min())
        cx = np.floor((self.node_lon - x0) / cell_deg).astype(np.int64)
        cy = np.floor((self.node_lat - y0) / cell_deg).astype(np.int64)
        nx = int(cx.max()) + 1
        ny = int(cy.max()) + 1
        cell = cy * nx + cx
        order = np.argsort(cell, kind="stable")
        cell_sorted = cell[order]
        uniq, starts = np.unique(cell_sorted, return_index=True)
        self._node_cell_index = {
            "x0": x0, "y0": y0, "cell_deg": cell_deg, "nx": nx, "ny": ny,
            "uniq": uniq, "starts": starts,
            "ends": np.append(starts[1:], len(cell_sorted)),
            "nodes": order.astype(np.int64),
        }
        return self

    def nearest_nodes(self, lons, lats) -> np.ndarray:
        """Batched ring-expansion 1-NN: per point, grow Chebyshev cell
        shells around the center cell until the best planar-d² candidate is
        provably closer than any unseen shell (nodes in shells ≥ r+1 lie at
        ≥ r·cell_deg from anywhere in the center cell). Per-point cost
        scales with LOCAL density (cells visited), not node count — the
        round-2 verdict's fix for the all-nodes distance matrix. Ties break
        to the lowest dense index (= lowest node id), matching the brute
        ``argmin`` oracle (dijkstra.nearest_node). Returns dense indices."""
        if getattr(self, "_node_cell_index", None) is None:
            self.build_node_cell_index()
        ci = self._node_cell_index
        cd, nx, ny = ci["cell_deg"], ci["nx"], ci["ny"]
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
            tot = int(cnt.sum())
            if tot == 0:
                return np.empty(0, dtype=np.int64), cnt
            offs = np.arange(tot) - np.repeat(np.cumsum(cnt) - cnt, cnt)
            return np.repeat(starts, cnt) + offs, cnt

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
                cand = ci["nodes"][flat]
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
        g = cls(d["node_ids"], d["node_lon"], d["node_lat"], d["edge_id"],
                d["edge_src"], d["edge_dst"], d["edge_weight"],
                d.get("edge_fwd"), d.get("edge_access"))
        return g


# per-executor-process memo: broadcast payloads hydrate once per worker
# (the analog of the reference's rebuild-indices-on-load, graph.rs:145-178)
_HYDRATED: dict[str, PackedGraph] = {}


def hydrate(bc, key: str) -> PackedGraph:
    """Hydrate (and memoise) a broadcast graph in this worker process.
    ``key`` is a caller-supplied stable token (pyspark's Broadcast exposes no
    id on executors)."""
    g = _HYDRATED.get(key)
    if g is None:
        g = PackedGraph.from_broadcastable(bc.value).build_cell_index()
        _HYDRATED[key] = g
    return g


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


def build_packed_graph(nodes_pdf, edges_pdf) -> PackedGraph:
    """From pandas frames nodes(node_id, lon, lat),
    edges(edge_id, src, dst, weight[, fwd, access]).

    Edges are canonicalized to (edge_id, src, dst) order so edge_row indices
    agree with the distributed cell-join candidate generator
    (shard/partition.py) — candidate order drives trellis tie-breaks."""
    edges_pdf = edges_pdf.sort_values(["edge_id", "src", "dst"],
                                      kind="stable").reset_index(drop=True)
    order = np.argsort(nodes_pdf["node_id"].values)
    node_ids = nodes_pdf["node_id"].values[order].astype(np.int64)
    node_lon = nodes_pdf["lon"].values[order].astype(np.float64)
    node_lat = nodes_pdf["lat"].values[order].astype(np.float64)
    src_idx = np.searchsorted(node_ids, edges_pdf["src"].values).astype(np.int32)
    dst_idx = np.searchsorted(node_ids, edges_pdf["dst"].values).astype(np.int32)
    fwd = (edges_pdf["fwd"].values.astype(bool)
           if "fwd" in edges_pdf.columns else None)
    access = (_normalize_access(edges_pdf["access"].tolist())
              if "access" in edges_pdf.columns else None)
    return PackedGraph(
        node_ids, node_lon, node_lat,
        edges_pdf["edge_id"].values.astype(np.int64),
        src_idx, dst_idx,
        edges_pdf["weight"].values.astype(np.uint32),
        fwd, access,
    )
