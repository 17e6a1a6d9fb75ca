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
built with the system C compiler (``cc``) on first import, cached by a hash
of its source and flags, and loaded through ``ctypes``. There is no Python
fallback; without a compiler the import raises ``ImportError``. The pure
Python version it must equal node for node lives in
``tests/dijkstra_oracle.py``. The same library holds the matcher's batched
Viterbi (:func:`viterbi`), one call for every trip of a batch.

Parent maps are kept in the predicate cache, one flat arena per graph and
profile (:class:`PredicateCache`): every (root, leaf) lane of a weigh call
is located with one searchsorted, and its misses are settled in one
compiled call (:func:`settle_many`). It holds at most 8192 roots (cache.rs:19) per executor process,
shared across Arrow batches, and empties wholesale when full.
"""

from __future__ import annotations

import atexit
import ctypes
import hashlib
import heapq
import os
import platform
import shutil
import stat
import subprocess
import tempfile
from importlib import resources

import numpy as np

from routers_spark.config import DIJKSTRA_BOUND_CM, PREDICATE_CACHE_CAPACITY

CC = "cc"
CFLAGS = ("-O2", "-std=c99", "-shared", "-fPIC")
_SOURCE = "bounded_dijkstra.c"


def build_kernel(out_dir: str, cc: str = CC, source: bytes | None = None) -> str:
    """Path of the compiled kernel in ``out_dir``, compiling it first when
    no build of this exact source, compiler and flags is there. The output
    is written under a unique name and renamed into place, so processes
    that build at once each load a complete library."""
    if source is None:
        source = resources.files(__package__).joinpath(_SOURCE).read_bytes()
    tag = hashlib.sha256(repr((cc, CFLAGS, platform.machine())).encode()
                         + source).hexdigest()[:16]
    path = os.path.join(out_dir, f"bounded_dijkstra-{tag}.so")
    if os.path.exists(path):
        return path
    cmd = [cc, *CFLAGS, "-o", "k.so", _SOURCE]
    try:
        os.makedirs(out_dir, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=out_dir) as tmp:
            with open(os.path.join(tmp, _SOURCE), "wb") as f:
                f.write(source)
            subprocess.run(cmd, check=True, capture_output=True, cwd=tmp)
            os.replace(os.path.join(tmp, "k.so"), path)
    except subprocess.CalledProcessError as e:
        raise ImportError(
            f"compiling {_SOURCE} failed: {' '.join(cmd)}\n"
            f"{e.stderr.decode(errors='replace')}") from None
    except OSError as e:  # no compiler, one that cannot run, or no room
        raise ImportError(
            f"building the compiled bounded Dijkstra in {out_dir} failed "
            f"(it needs a working C compiler): "
            f"running {cc!r} as {' '.join(cmd)} ({e})") from None
    return path


def _private(path: str) -> bool:
    """True when ``path`` is a real directory (not a symlink) owned by this
    user and writable by no one else, so no other local user can have put
    a library in it."""
    try:
        st = os.lstat(path)
    except OSError:
        return False
    return (stat.S_ISDIR(st.st_mode) and st.st_uid == os.getuid()
            and st.st_mode & 0o022 == 0)


def _build_dir(pkg_dir: str = os.path.dirname(__file__),
               tmp_root: str | None = None) -> str:
    """The package's ``__pycache__``; when the package is not writable (a
    zip on ``--py-files``), a per-user directory under the temp dir, made
    with mode 0700 and used only if it passes ``_private``. A shared temp
    dir lets any local user create that name first, so when the check
    fails the kernel goes to a fresh private directory of this process,
    removed at exit."""
    here = os.path.join(pkg_dir, "__pycache__")
    try:
        os.makedirs(here, exist_ok=True)
        if os.access(here, os.W_OK):
            return here
    except OSError:
        pass
    tmp_root = tmp_root or tempfile.gettempdir()
    shared = os.path.join(tmp_root, f"routers_spark-{os.getuid()}")
    try:
        os.mkdir(shared, 0o700)
    except OSError:
        pass
    if _private(shared):
        return shared
    own = tempfile.mkdtemp(prefix="routers_spark-", dir=tmp_root)
    atexit.register(shutil.rmtree, own, True)
    return own


class _Graph(ctypes.Structure):
    _fields_ = [("n_nodes", ctypes.c_int64)] + [
        (name, ctypes.c_void_p) for name in (
            "indptr", "dst", "weight", "len_cm", "erow", "state", "touched",
            "out_node", "out_parent", "out_depth")]


def _load(path: str) -> ctypes.CDLL:
    try:
        lib = ctypes.CDLL(path)
    except OSError as e:
        raise ImportError(
            f"loading the compiled bounded Dijkstra {path} failed ({e}); "
            f"{os.path.dirname(path)} must allow mapping executable code "
            f"(it must not be on a noexec mount)") from None
    lib.bd_settle_many.argtypes = [
        ctypes.POINTER(_Graph), ctypes.c_void_p, ctypes.c_int64,
        ctypes.c_double] + [ctypes.c_void_p] * 4 + [ctypes.c_int64,
                                                    ctypes.c_void_p]
    lib.bd_settle_many.restype = ctypes.c_int64
    lib.bd_viterbi.argtypes = [ctypes.c_int64] + [ctypes.c_void_p] * 10
    lib.bd_viterbi.restype = None
    return lib


_LIB = _load(build_kernel(_build_dir()))


class _Kernel:
    """One graph's CSR arrays in the kernel's dtypes plus its scratch
    (per-node state, touched list and the pop-order outputs), built on
    first use and kept on the graph."""

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
    walkable by integer gathers. Buffers grow by doubling."""

    __slots__ = ("n_nodes", "slot_of", "n_slots", "size", "key", "node",
                 "loc", "depth")

    def __init__(self, n_nodes: int):
        self.n_nodes = n_nodes
        self.slot_of = np.full(n_nodes, -1, dtype=np.int64)
        self.n_slots = 0
        self.size = 0
        self.key, self.node, self.loc, self.depth = (
            np.empty(0, dtype=np.int64) for _ in range(4))

    def append(self, roots: np.ndarray, counts: np.ndarray, node: np.ndarray,
               parent: np.ndarray, depth: np.ndarray) -> None:
        """Add one slot per root from :func:`settle_many`'s output."""
        slots = np.arange(self.n_slots, self.n_slots + len(roots),
                          dtype=np.int64)
        base = np.repeat(slots * self.n_nodes, counts)
        order = np.argsort(base + node)
        node, base = node[order], base[order]
        parent, depth = parent[order], depth[order]
        size, add = self.size, len(node)
        if size + add > len(self.key):
            cap = max(2 * len(self.key), size + add)
            for name in ("key", "node", "loc", "depth"):
                grown = np.empty(cap, dtype=np.int64)
                grown[:size] = getattr(self, name)[:size]
                setattr(self, name, grown)
        key = self.key[size:size + add]
        key[:] = base + node
        self.node[size:size + add] = node
        self.loc[size:size + add] = np.searchsorted(key, base + parent) + size
        self.depth[size:size + add] = depth
        self.size += add
        self.slot_of[roots] = slots
        self.n_slots += len(roots)

    def locate(self, roots: np.ndarray, leaves: np.ndarray):
        """(entry, member) per (root, leaf) lane, every root present: the
        leaf's entry in its root's slot, and whether the leaf settled
        within the bound (``entry`` is 0 where it did not)."""
        key = self.key[:self.size]
        q = self.slot_of[roots] * self.n_nodes + leaves
        pos = np.searchsorted(key, q)
        member = pos < len(key)
        member[member] = key[pos[member]] == q[member]
        return np.where(member, pos, 0), member


class PredicateCache:
    """Read-through store of bounded-Dijkstra parent maps (cache.rs:19,
    113-122), one flat :class:`_Arena` per (graph, profile); one per
    executor process via the module singleton. ``profile`` is part of the
    key when runtime accessibility gating is active (the reference's own
    TODO at cache.rs:308-313 notes its profile-less key taints queries —
    we fix it).

    :meth:`locate` answers every (root, leaf) lane of a call at once;
    the roots it misses are settled in one :func:`settle_many` call, with
    no Python per root. Eviction is wholesale: when a call's misses would
    take the roots held across all arenas past ``capacity`` (8192,
    cache.rs:19), every arena is dropped and the call's roots are settled
    afresh. A call may hold more roots than
    ``capacity`` on its own until the next call's misses arrive."""

    def __init__(self, capacity: int = PREDICATE_CACHE_CAPACITY,
                 threshold_cm: float = DIJKSTRA_BOUND_CM):
        self.capacity = capacity
        self.threshold_cm = threshold_cm
        self._arenas: dict[tuple, _Arena] = {}
        self._roots = 0

    def locate(self, graph, roots, leaves, profile=None):
        """(arena, entry, member) for every (root, leaf) lane: see
        :meth:`_Arena.locate`. Walk a lane with ``arena.loc`` from its
        entry; ``arena.depth[entry] + 1`` nodes lead back to the root."""
        roots = np.asarray(roots, dtype=np.int64)
        key = (graph.uid, profile)
        arena = self._arenas.get(key)
        if arena is None:
            arena = self._arenas[key] = _Arena(len(graph.node_ids))
        miss = np.unique(roots[arena.slot_of[roots] < 0])
        if len(miss):
            if self._roots + len(miss) > self.capacity and self._roots:
                self._arenas = {key: _Arena(len(graph.node_ids))}
                self._roots = 0
                arena = self._arenas[key]
                miss = np.unique(roots)
            mask = graph.access_mask(profile) if profile is not None else None
            arena.append(miss, *settle_many(graph, miss, self.threshold_cm,
                                            mask))
            self._roots += len(miss)
        leaves = np.asarray(leaves, dtype=np.int64)
        return (arena, *arena.locate(roots, leaves))

    def path(self, graph, root: int, leaf: int,
             profile=None) -> list[int] | None:
        """Nodes root→leaf inclusive via the parent pointers
        (expansion.rs:26-39), or None when leaf is outside the bound."""
        arena, entry, member = self.locate(graph, [root], [leaf], profile)
        if not member[0]:
            return None
        cur = int(entry[0])
        nodes = [int(arena.node[cur])]
        for _ in range(int(arena.depth[cur])):
            cur = int(arena.loc[cur])
            nodes.append(int(arena.node[cur]))
        nodes.reverse()
        return nodes


GLOBAL_PREDICATE_CACHE = PredicateCache()


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
