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
``tests/dijkstra_oracle.py``.

Parent maps are memoised per root in a bounded LRU (8192 entries,
cache.rs:19) — per executor process, shared across Arrow batches.
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
from collections import OrderedDict
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
    lib.bd_settle.argtypes = [ctypes.POINTER(_Graph), ctypes.c_int64,
                              ctypes.c_double, ctypes.c_void_p]
    lib.bd_settle.restype = ctypes.c_int64
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


def settle(graph, root_idx: int, threshold_cm: float = DIJKSTRA_BOUND_CM,
           access_mask: np.ndarray | None = None):
    """(nodes, parents, depths) of every node popped before the distance
    cutoff, in pop order (PredicateCache::calculate, cache.rs:291-326).
    Dense node indices; the root is its own parent at depth 0 (the
    reference uses ``parent.unwrap_or_default()`` for the root).

    ``access_mask`` (bool per edge row) gates every expansion on runtime
    accessibility, the successor filter of cache.rs:297-315."""
    kern = _Kernel.of(graph)
    if not 0 <= root_idx < kern.struct.n_nodes:
        raise IndexError(f"root {root_idx} outside 0..{kern.struct.n_nodes - 1}")
    mask = None
    if access_mask is not None:
        access_mask = np.ascontiguousarray(access_mask, dtype=bool)
        if len(access_mask) != len(graph.edge_id):
            raise ValueError(f"access mask has {len(access_mask)} entries "
                             f"for {len(graph.edge_id)} edge rows")
        mask = access_mask.ctypes.data
    k = _LIB.bd_settle(ctypes.byref(kern.struct), root_idx,
                       float(threshold_cm), mask)
    if k < 0:
        raise MemoryError("bounded Dijkstra heap allocation failed")
    out = kern.arrays[-3:]
    return out[0][:k].copy(), out[1][:k].copy(), out[2][:k].copy()


class ParentMap:
    """A root's parent map in vectorizable form: sorted node-id keys, parent
    ids, LOCAL parent indices (gather-walkable without searchsorted) and
    per-node depth (path length known up front). Built once per cache fill
    from the kernel's pop-order arrays; the batched weigher walks thousands
    of leaves against it with pure integer gathers."""

    __slots__ = ("keys", "vals", "loc", "depth")

    def __init__(self, nodes: np.ndarray, parents: np.ndarray,
                 depth: np.ndarray):
        order = np.argsort(nodes)
        self.keys = nodes[order]
        self.vals = parents[order]
        self.depth = depth[order]
        self.loc = np.searchsorted(self.keys, self.vals)

    def locate(self, nodes: np.ndarray):
        """(local_idx, member_mask) for an array of node ids."""
        nk = len(self.keys)
        pos = np.searchsorted(self.keys, nodes)
        if nk == 0:
            return pos, np.zeros(len(nodes), dtype=bool)
        member = (pos < nk) & (self.keys[np.minimum(pos, nk - 1)] == nodes)
        return pos, member


def parent_path_pm(pm: ParentMap, root: int, leaf: int) -> list[int] | None:
    """Nodes root→leaf inclusive via the parent pointers
    (expansion.rs:26-39), or None when leaf is outside the bound."""
    nk = len(pm.keys)
    i = int(np.searchsorted(pm.keys, leaf))
    if i >= nk or pm.keys[i] != leaf:
        return None
    nodes = []
    cur = i
    while True:
        nodes.append(int(pm.keys[cur]))
        if pm.keys[cur] == root:
            break
        cur = int(pm.loc[cur])
    nodes.reverse()
    return nodes


class PredicateCache:
    """Bounded read-through LRU of parent maps keyed by root index
    (cache.rs:19,113-122). One per executor process via module singleton.

    Entries are stored as sorted (keys, vals) index arrays so the batched
    boundary weigher can walk many leaves per root with vectorized
    searchsorted lookups. ``profile`` extends the key when runtime
    accessibility gating is active (the reference's own TODO at
    cache.rs:308-313 notes its profile-less key taints queries — we fix it)."""

    def __init__(self, capacity: int = PREDICATE_CACHE_CAPACITY,
                 threshold_cm: float = DIJKSTRA_BOUND_CM):
        self.capacity = capacity
        self.threshold_cm = threshold_cm
        self._map: OrderedDict[tuple, ParentMap] = OrderedDict()

    def query(self, graph, root_idx: int, profile=None) -> ParentMap:
        key = (graph.uid, root_idx, profile)
        hit = self._map.get(key)
        if hit is not None:
            self._map.move_to_end(key)
            return hit
        mask = graph.access_mask(profile) if profile is not None else None
        entry = ParentMap(*settle(graph, root_idx, self.threshold_cm, mask))
        self._map[key] = entry
        if len(self._map) > self.capacity:
            self._map.popitem(last=False)
        return entry


GLOBAL_PREDICATE_CACHE = PredicateCache()


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
