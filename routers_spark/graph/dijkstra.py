"""Bounded Dijkstra with the reference's exact cost semantics.

Cost = WeightAndDistance (libs/routers_transition/src/primitives/
weight_and_distance.rs): a running (numerator, denominator) average of
road-class weights plus cumulative distance in integer centimetres. The heap
priority is ``repr() = u32(float(num // den)**2 * distance_cm)`` — quadratic
class weighting so low-class detours lose (weight_and_distance.rs:23-38).

Iteration yields nodes in repr order and STOPS at the first popped node whose
distance reaches the threshold (``take_while``, cache.rs:320-323) — not a
filter: later nodes with shorter distance but larger repr are cut too. That
is the reference's reachability boundary and is reproduced exactly.

The search itself is compiled: ``bounded_dijkstra.c`` beside this module is
built with the system C compiler (``cc``) on first import through
``routers_spark.native``, cached by a hash of its source and flags, and
loaded through ``ctypes``. There is no Python fallback; without a compiler
the import raises ``ImportError``. The pure
Python version it must equal node for node lives in
``tests/dijkstra_oracle.py``. The same library holds the matcher's
boundary weigher (:class:`WeighCall`, behind ``matching.weigh``) and its
batched Viterbi (:func:`viterbi`), one call for every trip of a batch;
this module is where their arguments are checked.

Parent maps are kept in the predicate cache, one flat arena per graph and
profile (:class:`PredicateCache`): a call's missing roots are settled in
one compiled call (:func:`settle_many`) and sorted into the arena in C;
its (root, leaf) lanes are located and walked in C. It holds at most 8192
roots (cache.rs:19) per executor process, shared across Arrow batches,
and empties wholesale when full.
"""

from __future__ import annotations

import ctypes
import heapq

import numpy as np

from routers_spark.config import (
    COST_CLAMP_LO,
    COST_DAMPING,
    COST_PRECISION,
    DIJKSTRA_BOUND_CM,
    EARTH_RADIUS_M,
    MAX_WEIGHT,
    MIN_HEADING_DIST_M,
    PREDICATE_CACHE_CAPACITY,
)
from routers_spark.native import load_kernel

_SOURCE = "bounded_dijkstra.c"


class _Graph(ctypes.Structure):
    _fields_ = [("n_nodes", ctypes.c_int64)] + [
        (name, ctypes.c_void_p) for name in (
            "indptr", "dst", "weight", "len_cm", "erow", "state", "touched",
            "out_node", "out_parent", "out_depth", "node_lon", "node_lat",
            "edge_src", "edge_dst", "edge_weight", "edge_len_m",
            "edge_heading")]


class _ArenaView(ctypes.Structure):
    _fields_ = [("n_nodes", ctypes.c_int64), ("size", ctypes.c_int64)] + [
        (name, ctypes.c_void_p)
        for name in ("slot_of", "key", "node", "loc", "depth")]


class _Costs(ctypes.Structure):
    _fields_ = [(name, ctypes.c_double) for name in (
        "earth_radius_m", "min_heading_dist_m", "damping", "eps",
        "precision_zeta")] + [("max_weight", ctypes.c_int64)]


def _declare(lib: ctypes.CDLL) -> ctypes.CDLL:
    lib.bd_settle_many.argtypes = [
        ctypes.POINTER(_Graph), ctypes.c_void_p, ctypes.c_int64,
        ctypes.c_double] + [ctypes.c_void_p] * 4 + [ctypes.c_int64,
                                                    ctypes.c_void_p]
    lib.bd_settle_many.restype = ctypes.c_int64
    lib.bd_viterbi.argtypes = [ctypes.c_int64] + [ctypes.c_void_p] * 10
    lib.bd_viterbi.restype = None
    lib.bd_arena_append.argtypes = [ctypes.POINTER(_Graph), ctypes.c_int64,
                                    ctypes.c_int64] + [ctypes.c_void_p] * 8 \
        + [ctypes.c_int64]
    lib.bd_arena_append.restype = ctypes.c_int64
    lib.bd_arena_locate.argtypes = [ctypes.POINTER(_ArenaView),
                                    ctypes.c_int64] + [ctypes.c_void_p] * 4
    lib.bd_arena_locate.restype = None
    lib.bd_path_rows.argtypes = [ctypes.POINTER(_Graph),
                                 ctypes.POINTER(_ArenaView), ctypes.c_int64,
                                 ctypes.c_void_p, ctypes.c_void_p,
                                 ctypes.c_void_p]
    lib.bd_path_rows.restype = ctypes.c_int64
    lib.bd_weigh_begin.argtypes = [ctypes.POINTER(_Graph), ctypes.c_int64] \
        + [ctypes.c_void_p] * 11
    lib.bd_weigh_begin.restype = ctypes.c_void_p
    lib.bd_weigh_geometry.argtypes = [ctypes.c_void_p, ctypes.POINTER(_Graph),
                                      ctypes.POINTER(_ArenaView)] \
        + [ctypes.c_void_p] * 4
    lib.bd_weigh_geometry.restype = ctypes.c_int64
    lib.bd_weigh_finish.argtypes = [ctypes.c_void_p, ctypes.POINTER(_Graph),
                                    ctypes.POINTER(_Costs)] \
        + [ctypes.c_void_p] * 5
    lib.bd_weigh_finish.restype = None
    lib.bd_weigh_free.argtypes = [ctypes.c_void_p]
    lib.bd_weigh_free.restype = None
    lib.bd_libm.argtypes = [ctypes.c_int64, ctypes.c_int64] \
        + [ctypes.c_void_p] * 3
    lib.bd_libm.restype = None
    return lib


_LIB = _declare(load_kernel(__package__, _SOURCE))


class _Kernel:
    """One graph's CSR arrays in the kernel's dtypes plus its scratch
    (per-node state, touched list and the pop-order outputs) and the
    per-node and per-edge arrays the weigher reads, built on first use and
    kept on the graph."""

    __slots__ = ("arrays", "struct")

    def __init__(self, graph):
        n = len(graph.node_ids)
        erows = np.ascontiguousarray(graph.csr_edge_row, dtype=np.int64)
        self.arrays = [
            np.ascontiguousarray(graph.csr_indptr, dtype=np.int64),
            np.ascontiguousarray(graph.edge_dst[erows], dtype=np.int32),
            np.ascontiguousarray(graph.edge_weight[erows], dtype=np.uint32),
            np.ascontiguousarray(graph.edge_len_cm[erows], dtype=np.uint32),
            erows,
            np.full(n, -1, dtype=np.int64),
            *(np.empty(n, dtype=np.int64) for _ in range(4)),
            *(np.ascontiguousarray(a, dtype=dt) for a, dt in (
                (graph.node_lon, np.float64), (graph.node_lat, np.float64),
                (graph.edge_src, np.int32), (graph.edge_dst, np.int32),
                (graph.edge_weight, np.uint32),
                (graph.edge_len_m, np.float64),
                (graph.edge_heading, np.float64))),
        ]
        self.struct = _Graph(n, *(a.ctypes.data for a in self.arrays))

    @classmethod
    def of(cls, graph) -> "_Kernel":
        k = graph.dijkstra_kernel
        if k is None:
            k = graph.dijkstra_kernel = cls(graph)
        return k


def settle_many(graph, roots, threshold_cm: float = DIJKSTRA_BOUND_CM,
                access_mask: np.ndarray | None = None):
    """Bounded Dijkstra from every root in ``roots``, in one compiled call:
    ``(counts, nodes, parents, depths)``, root i's output being the
    ``counts[i]`` entries after those of roots 0..i-1. Each root yields
    every node popped before the distance cutoff, in pop order
    (PredicateCache::calculate, cache.rs:291-326), as dense node indices;
    the root is its own parent at depth 0 (the reference uses
    ``parent.unwrap_or_default()`` for the root).

    ``access_mask`` (bool per edge row) gates every expansion on runtime
    accessibility, the successor filter of cache.rs:297-315."""
    kern = _Kernel.of(graph)
    n = kern.struct.n_nodes
    roots = np.ascontiguousarray(roots, dtype=np.int64)
    bad = roots[(roots < 0) | (roots >= n)]
    if len(bad):
        raise IndexError(f"root {bad[0]} outside 0..{n - 1}")
    mask = None
    if access_mask is not None:
        access_mask = np.ascontiguousarray(access_mask, dtype=bool)
        if len(access_mask) != len(graph.edge_id):
            raise ValueError(f"access mask has {len(access_mask)} entries "
                             f"for {len(graph.edge_id)} edge rows")
        mask = access_mask.ctypes.data
    counts = np.zeros(len(roots), dtype=np.int64)
    out = [np.empty(64 * len(roots), dtype=np.int64) for _ in range(3)]
    done = used = 0
    while done < len(roots):
        got = _LIB.bd_settle_many(
            ctypes.byref(kern.struct), roots[done:].ctypes.data,
            len(roots) - done, float(threshold_cm), mask,
            *(a[used:].ctypes.data for a in out), len(out[0]) - used,
            counts[done:].ctypes.data)
        if got < 0:
            raise MemoryError("bounded Dijkstra heap allocation failed")
        used += int(counts[done:done + got].sum())
        done += got
        if done < len(roots):  # the next root's output did not fit
            grown = [np.empty(2 * len(out[0]) + n, dtype=np.int64)
                     for _ in range(3)]
            for g, a in zip(grown, out):
                g[:used] = a[:used]
            out = grown
    return (counts, *(a[:used] for a in out))


class _Arena:
    """The parent maps of one graph and profile, flat. Each root's settled
    nodes occupy one slot: a run of entries sorted by node, keyed
    ``slot * n_nodes + node`` so that the keys of all slots together are
    one sorted array (slots are appended in order). ``loc`` is the entry
    index of each node's parent (the root points at itself) and ``depth``
    its edge count from the root, so a leaf's path is known up front and
    walkable by integer gathers. Buffers grow by doubling; the sort, the
    parent lookup and :meth:`locate` are compiled."""

    __slots__ = ("n_nodes", "slot_of", "n_slots", "size", "key", "node",
                 "loc", "depth")

    def __init__(self, n_nodes: int):
        self.n_nodes = n_nodes
        self.slot_of = np.full(n_nodes, -1, dtype=np.int64)
        self.n_slots = 0
        self.size = 0
        self.key, self.node, self.loc, self.depth = (
            np.empty(0, dtype=np.int64) for _ in range(4))

    def view(self) -> _ArenaView:
        return _ArenaView(self.n_nodes, self.size, *(a.ctypes.data for a in (
            self.slot_of, self.key, self.node, self.loc, self.depth)))

    def append(self, graph, roots: np.ndarray, counts: np.ndarray,
               node: np.ndarray, parent: np.ndarray, depth: np.ndarray) -> None:
        """Add one slot per root from :func:`settle_many`'s output."""
        size, add = self.size, len(node)
        if size + add > len(self.key):
            cap = max(2 * len(self.key), size + add)
            for name in ("key", "node", "loc", "depth"):
                grown = np.empty(cap, dtype=np.int64)
                grown[:size] = getattr(self, name)[:size]
                setattr(self, name, grown)
        counts, node, parent, depth = (np.ascontiguousarray(a, dtype=np.int64)
                                       for a in (counts, node, parent, depth))
        if _LIB.bd_arena_append(
                ctypes.byref(_Kernel.of(graph).struct), self.n_slots,
                len(roots), *(a.ctypes.data for a in (
                    counts, node, parent, depth, self.key, self.node,
                    self.loc, self.depth)), size) < 0:
            raise MemoryError("arena append allocation failed")
        self.size += add
        self.slot_of[roots] = np.arange(self.n_slots, self.n_slots + len(roots),
                                        dtype=np.int64)
        self.n_slots += len(roots)

    def locate(self, roots: np.ndarray, leaves: np.ndarray):
        """(entry, member) per (root, leaf) lane: the leaf's entry in its
        root's slot, and whether the leaf settled within the bound
        (``entry`` is 0 where it did not, or where the root has no slot)."""
        roots, leaves = (np.ascontiguousarray(a, dtype=np.int64)
                         for a in (roots, leaves))
        _check_lanes(self.n_nodes, roots, leaves)
        entry = np.empty(len(roots), dtype=np.int64)
        member = np.empty(len(roots), dtype=np.uint8)
        _LIB.bd_arena_locate(ctypes.byref(self.view()), len(roots),
                             roots.ctypes.data, leaves.ctypes.data,
                             entry.ctypes.data, member.ctypes.data)
        return entry, member.view(bool)


def _check_lanes(n_nodes: int, roots: np.ndarray, leaves: np.ndarray) -> None:
    if len(roots) != len(leaves) or not (
            ((roots >= 0) & (roots < n_nodes)).all()
            and ((leaves >= 0) & (leaves < n_nodes)).all()):
        raise ValueError(f"lanes: {len(roots)} roots and {len(leaves)} leaves "
                         f"must pair up as node indices in 0..{n_nodes - 1}")


class PredicateCache:
    """Read-through store of bounded-Dijkstra parent maps (cache.rs:19,
    113-122), one flat :class:`_Arena` per (graph, profile); one per
    executor process via the module singleton. ``profile`` is part of the
    key when runtime accessibility gating is active (the reference's own
    TODO at cache.rs:308-313 notes its profile-less key taints queries —
    we fix it).

    :meth:`settle` makes every root of a call present at once: the roots
    it misses are settled in one :func:`settle_many` call, with no Python
    per root. Eviction is wholesale: when a call's misses would take the
    roots held across all arenas past ``capacity`` (8192, cache.rs:19),
    every arena is dropped and the call's roots are settled afresh. A call
    may hold more roots than ``capacity`` on its own until the next call's
    misses arrive."""

    def __init__(self, capacity: int = PREDICATE_CACHE_CAPACITY,
                 threshold_cm: float = DIJKSTRA_BOUND_CM):
        self.capacity = capacity
        self.threshold_cm = threshold_cm
        self._arenas: dict[tuple, _Arena] = {}
        self._roots = 0

    def settle(self, graph, roots, profile=None) -> _Arena:
        """The (graph, profile) arena, holding every root in ``roots``."""
        roots = np.asarray(roots, dtype=np.int64)
        n = len(graph.node_ids)
        _check_lanes(n, roots, roots)
        key = (graph.uid, profile)
        arena = self._arenas.get(key)
        if arena is None:
            arena = self._arenas[key] = _Arena(n)
        miss = np.unique(roots[arena.slot_of[roots] < 0])
        if len(miss):
            if self._roots + len(miss) > self.capacity and self._roots:
                self._arenas = {key: _Arena(n)}
                self._roots = 0
                arena = self._arenas[key]
                miss = np.unique(roots)
            mask = graph.access_mask(profile) if profile is not None else None
            arena.append(graph, miss, *settle_many(
                graph, miss, self.threshold_cm, mask))
            self._roots += len(miss)
        return arena

    def locate(self, graph, roots, leaves, profile=None):
        """(arena, entry, member) for every (root, leaf) lane: see
        :meth:`_Arena.locate`. Walk a lane with ``arena.loc`` from its
        entry; ``arena.depth[entry] + 1`` nodes lead back to the root."""
        arena = self.settle(graph, roots, profile)
        return (arena, *arena.locate(roots, leaves))

    def path_rows(self, graph, roots, leaves, profile=None):
        """The edge rows of every (root, leaf) lane's path, in one compiled
        walk (expansion.rs:26-39, then the lowest edge row of each node
        pair, G2): ``(member, off, rows)``, lane i's rows being
        ``rows[off[i]:off[i + 1]]``, none where the leaf is outside the
        root's bound."""
        arena, entry, member = self.locate(graph, roots, leaves, profile)
        off = np.zeros(len(entry) + 1, dtype=np.int64)
        np.cumsum(np.where(member, arena.depth[entry], 0), out=off[1:])
        rows = np.empty(int(off[-1]), dtype=np.int64)
        if _LIB.bd_path_rows(ctypes.byref(_Kernel.of(graph).struct),
                             ctypes.byref(arena.view()), len(entry),
                             entry.ctypes.data, member.ctypes.data,
                             rows.ctypes.data) < 0:
            raise RuntimeError("a parent pointer names no edge")
        return member, off, rows

    def drop(self, uid: int) -> None:
        """Forget every arena of the graph with this ``uid``."""
        for key in [k for k in self._arenas if k[0] == uid]:
            self._roots -= self._arenas.pop(key).n_slots


GLOBAL_PREDICATE_CACHE = PredicateCache()


class WeighCall:
    """One call of the compiled boundary weigher (``bd_weigh_*``;
    ``matching.weigh.weigh_flat`` has the contract), stopped between its
    passes. On construction every pair is enumerated and classified, the
    standard pairs' roots are settled in ``cache``, each (root, leaf) lane
    is walked once, and ``asin`` gets the argument of every arcsin the
    costs need, ``atan_y`` / ``atan_x`` those of every arctan2. The caller
    applies ``np.arcsin(asin, out=asin)`` and ``np.arctan2(atan_y, atan_x,
    out=atan_y)``, then :meth:`finish` writes the u32 costs, or
    :meth:`values` returns each pair's transition inputs. Use it as a
    context manager: leaving it frees the compiled state.

    The arguments are checked here (``ValueError``), because the kernel
    trusts its offsets and indices."""

    def __init__(self, graph, cache, edge_row, frac, px, py, lo, mid, hi,
                 moff, keep=None, profile=None):
        self._kern = _Kernel.of(graph)
        self._cols = (np.ascontiguousarray(edge_row, dtype=np.int64),
                      *(np.ascontiguousarray(a, dtype=np.float64)
                        for a in (frac, px, py)))
        lo, mid, hi, moff = (np.ascontiguousarray(a, dtype=np.int64)
                             for a in (lo, mid, hi, moff))
        er = self._cols[0]
        n_cand = len(er)
        ok = (lo.ndim == 1 and len(lo) == len(mid) == len(hi) == len(moff) - 1
              and all(len(c) == n_cand for c in self._cols)
              and (lo >= 0).all() and (lo <= mid).all() and (mid <= hi).all()
              and (hi <= n_cand).all() and moff[0] == 0
              and (np.diff(moff) == (mid - lo) * (hi - mid)).all())
        if not ok:
            raise ValueError("weigh: lo/mid/hi disagree with the candidate "
                             "table or the matrix offsets")
        c0 = int(lo.min()) if len(lo) else 0
        c1 = int(hi.max()) if len(lo) else 0
        span = er[c0:c1]
        if not ((span >= 0) & (span < len(graph.edge_id))).all():
            raise ValueError(f"weigh: edge rows outside "
                             f"0..{len(graph.edge_id) - 1}")
        if keep is not None:
            keep = np.ascontiguousarray(keep, dtype=bool)
            if keep.shape != (int(moff[-1]),):
                raise ValueError(f"weigh: keep mask of {keep.shape} for "
                                 f"{int(moff[-1])} cells")
        roots = np.empty(int((mid - lo).sum()), dtype=np.int64)
        n_roots = ctypes.c_int64()
        self._ctx = _LIB.bd_weigh_begin(
            ctypes.byref(self._kern.struct), len(lo),
            *(a.ctypes.data for a in (lo, mid, hi, moff, *self._cols)),
            None if keep is None else keep.ctypes.data, roots.ctypes.data,
            ctypes.byref(n_roots))
        if not self._ctx:
            raise MemoryError("weigh allocation failed")
        try:
            arena = cache.settle(graph, roots[:n_roots.value], profile)
            nc = c1 - c0
            room = 2 * nc + int(moff[-1])
            bufs = [np.empty(room) for _ in range(3)]
            counts = np.zeros(2, dtype=np.int64)
            status = _LIB.bd_weigh_geometry(
                self._ctx, ctypes.byref(self._kern.struct),
                ctypes.byref(arena.view()),
                *(a.ctypes.data for a in (*bufs, counts)))
            if status == -1:
                raise MemoryError("weigh allocation failed")
            if status < 0:
                raise RuntimeError("a parent pointer names no edge")
        except BaseException:
            self.close()
            raise
        self.n_pairs = int(counts[0])
        self.asin = bufs[0][:2 * nc + self.n_pairs]
        self.atan_y, self.atan_x = (b[:2 * nc + int(counts[1])]
                                    for b in bufs[1:])

    def _finish(self, zeta: float, flat, out, cells) -> None:
        costs = _Costs(EARTH_RADIUS_M, MIN_HEADING_DIST_M, COST_DAMPING,
                       COST_CLAMP_LO, COST_PRECISION * zeta, MAX_WEIGHT)
        _LIB.bd_weigh_finish(
            self._ctx, ctypes.byref(self._kern.struct), ctypes.byref(costs),
            self.asin.ctypes.data, self.atan_y.ctypes.data,
            None if flat is None else flat.ctypes.data,
            None if out is None else out.ctypes.data,
            None if cells is None else cells.ctypes.data)

    def finish(self, flat: np.ndarray, zeta: float = 1.0) -> None:
        """Write every reachable pair's u32 cost (ζ-scaled, ``beta`` 1) to
        its cell of the flat matrix buffer ``flat`` (uint32)."""
        if flat.dtype != np.uint32 or not flat.flags.c_contiguous:
            raise ValueError("weigh: flat must be a contiguous uint32 array")
        self._finish(zeta, flat, None, None)

    def values(self):
        """``(cells, straight, route_len, angular, w_src, w_tgt, value)``
        per reachable pair in cell order, ``value`` being the default
        transition value (default.rs:137-163)."""
        out = np.empty((6, self.n_pairs))
        cells = np.empty(self.n_pairs, dtype=np.int64)
        self._finish(1.0, None, out, cells)
        return (cells, *out)

    def close(self) -> None:
        if self._ctx:
            _LIB.bd_weigh_free(self._ctx)
            self._ctx = None

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def viterbi(trip_off, layer_off, mat_off, weight, mats, solve):
    """Viterbi and backtrack of many trips in one compiled call, with the
    exact semantics of ``matching.trellis.Trellis`` (the pure-numpy solve
    it must equal lives in ``tests/test_trellis.py``).

    Trip t spans layers ``trip_off[t]:trip_off[t + 1]``; layer l spans
    candidates ``layer_off[l]:layer_off[l + 1]`` with u32 node weights
    ``weight``; the u32 matrix (NO_EDGE where absent) of the boundary from
    layer l to l + 1 is row-major at ``mats[mat_off[l]:]``. Only the trips
    where the bool array ``solve`` is set are solved. Returns
    ``(status, path, cost, broken)``: per trip an int8 status — 0 matched,
    1 disconnected (some boundary matrix is all NO_EDGE), 2 unreachable
    (best final cost >= INF_W), -1 not solved; per layer the chosen
    candidate's index within the layer; per trip the path cost; and per
    layer whether the boundary it starts is all NO_EDGE (set for the
    trips solved)."""
    trip_off, layer_off, mat_off = (
        np.ascontiguousarray(a, dtype=np.int64)
        for a in (trip_off, layer_off, mat_off))
    weight, mats = (np.ascontiguousarray(a, dtype=np.uint32)
                    for a in (weight, mats))
    n_trips, n_layers = len(trip_off) - 1, len(layer_off) - 1
    solve = np.asarray(solve, dtype=bool)
    # the kernel trusts its offsets: every layer and matrix a solved trip
    # reads must lie inside the arrays
    width = np.diff(layer_off)
    ok = (len(solve) == n_trips and len(mat_off) >= n_layers
          and trip_off[0] == 0 == layer_off[0] and trip_off[-1] == n_layers
          and (np.diff(trip_off) >= 0).all() and (width >= 0).all()
          and layer_off[-1] <= len(weight))
    if ok:
        lt = np.repeat(np.arange(n_trips), np.diff(trip_off))
        read = solve[lt]
        bl = np.flatnonzero(read[:-1] & (lt[:-1] == lt[1:]))
        ok = not ((solve & (trip_off[1:] == trip_off[:-1])).any()
                  or (width[read] == 0).any() or (mat_off[bl] < 0).any()
                  or (mat_off[bl] + width[bl] * width[bl + 1]
                      > len(mats)).any())
    if not ok:
        raise ValueError("viterbi: offsets disagree with the arrays")
    status = np.where(solve, 0, -1).astype(np.int8)
    path = np.zeros(n_layers, dtype=np.int64)
    cost = np.zeros(n_trips, dtype=np.int64)
    broken = np.zeros(n_layers, dtype=np.uint8)
    dist = np.empty(int(layer_off[-1]), dtype=np.uint64)
    _LIB.bd_viterbi(n_trips, *(a.ctypes.data for a in (
        trip_off, layer_off, mat_off, weight, mats, dist, path, cost, status,
        broken)))
    return status, path, cost, broken.view(bool)


def route_nodes(graph, a_idx: int, b_idx: int) -> tuple[list[int], int] | None:
    """G4 point-to-point route: Dijkstra (the reference's A* runs a zero
    heuristic, graph.rs:364-385) over raw edge weights ``w``. Returns
    (node index path, total weight) or None."""
    indptr = graph.csr_indptr
    erows = graph.csr_edge_row
    edst = graph.edge_dst
    ew = graph.edge_weight
    seq = 0
    heap = [(0, seq, a_idx)]
    dist = {a_idx: 0}
    prev: dict[int, int] = {}
    seen: set[int] = set()
    while heap:
        cost, _, node = heapq.heappop(heap)
        if node in seen:
            continue
        seen.add(node)
        if node == b_idx:
            path = [node]
            while path[-1] != a_idx:
                path.append(prev[path[-1]])
            return path[::-1], cost
        for e in erows[indptr[node]:indptr[node + 1]]:
            nxt = int(edst[e])
            ncost = cost + int(ew[e])
            if nxt not in dist or ncost < dist[nxt]:
                dist[nxt] = ncost
                prev[nxt] = node
                seq += 1
                heapq.heappush(heap, (ncost, seq, nxt))
    return None
