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

Parent maps are memoised per root in a bounded LRU (8192 entries,
cache.rs:19) — per executor process, shared across Arrow batches.
"""

from __future__ import annotations

import heapq
from collections import OrderedDict

import numpy as np

from routers_spark.config import DIJKSTRA_BOUND_CM, PREDICATE_CACHE_CAPACITY


# CSR adjacency as plain Python lists, attached to the graph object itself
# (NOT a global dict keyed by id(graph): celljoin churns one graph per trip
# and CPython reuses freed ids — a global map both leaked and could serve a
# dead graph's adjacency to its id-successor). Numpy scalar indexing in the
# heap loop cost ~2.5x over list indexing (every popped node scans its
# successors one edge at a time; this loop is the whole cold-cache cost
# each executor worker pays, so it bounds the N→4N scaling of the matcher).


def _adj_for(graph):
    a = graph._adj_cache
    if a is None:
        erows = graph.csr_edge_row
        a = {
            "indptr": graph.csr_indptr.tolist(),
            "dst": graph.edge_dst[erows].tolist(),
            "w": graph.edge_weight[erows].astype(np.int64).tolist(),
            "len": graph.edge_len_cm[erows].astype(np.int64).tolist(),
            "erow": erows.tolist(),
        }
        graph._adj_cache = a
    return a


def bounded_dijkstra_parents(
    graph, root_idx: int, threshold_cm: float = DIJKSTRA_BOUND_CM,
    access_mask: np.ndarray | None = None,
) -> dict[int, int]:
    """Parent-pointer map of every node popped before the distance cutoff
    (PredicateCache::calculate, cache.rs:291-326). Keys/values are dense
    node indices; the root maps to itself (reference uses
    ``parent.unwrap_or_default()`` for the root).

    ``access_mask`` (bool per edge row) gates every expansion on runtime
    accessibility, the successor filter of cache.rs:297-315."""
    a = _adj_for(graph)
    indptr = a["indptr"]
    dst_l = a["dst"]
    w_l = a["w"]
    len_l = a["len"]
    erow_l = a["erow"]

    # heap entries: (repr, seq, node, num, den, dist_cm, parent)
    # seq keeps ties deterministic (FIFO); the Rust BinaryHeap tie order is
    # unspecified, so tie determinism is OURS by definition.
    seq = 0
    heap = [(0, 0, root_idx, 0, 0, 0, root_idx)]
    seen: set[int] = set()
    best: dict[int, int] = {}
    parents: dict[int, int] = {}
    push = heapq.heappush
    pop = heapq.heappop

    while heap:
        rep, _, node, num, den, dist, parent = pop(heap)
        if node in seen:
            continue
        seen.add(node)
        if dist >= threshold_cm:
            break  # take_while: iteration ends entirely
        parents[node] = parent
        for i in range(indptr[node], indptr[node + 1]):
            if access_mask is not None and not access_mask[erow_l[i]]:
                continue  # inaccessible under the runtime profile
            nxt = dst_l[i]
            if nxt in seen:
                continue
            n_num = num + w_l[i]
            n_den = den + 1
            n_dist = dist + len_l[i]
            # Rust's `as u32` float cast SATURATES (weight_and_distance.rs:
            # 34-36) — unreachable within the 2 km bound, pinned anyway.
            n_rep = min(int(float((n_num // n_den) ** 2) * float(n_dist)),
                        0xFFFFFFFF)
            prev = best.get(nxt)
            if prev is not None and prev <= n_rep:
                continue
            seq += 1
            best[nxt] = n_rep
            push(heap, (n_rep, seq, nxt, n_num, n_den, n_dist, node))
    return parents


class ParentMap:
    """A root's parent map in vectorizable form: sorted node-id keys, parent
    ids, LOCAL parent indices (gather-walkable without searchsorted) and
    per-node depth (path length known up front). Built once per cache fill;
    the batched weigher walks thousands of leaves against it with pure
    integer gathers."""

    __slots__ = ("keys", "vals", "loc", "depth")

    def __init__(self, parents: dict[int, int]):
        k = len(parents)
        if k == 0:
            self.keys = np.empty(0, dtype=np.int64)
            self.vals = np.empty(0, dtype=np.int64)
            self.loc = np.empty(0, dtype=np.int64)
            self.depth = np.empty(0, dtype=np.int64)
            return
        keys = np.fromiter(parents.keys(), dtype=np.int64, count=k)
        vals = np.fromiter(parents.values(), dtype=np.int64, count=k)
        # depth in insertion (pop) order: a parent is always popped before
        # its child, so one forward pass suffices
        depth_by: dict[int, int] = {}
        dep = np.empty(k, dtype=np.int64)
        for i, (node, parent) in enumerate(parents.items()):
            d = 0 if parent == node else depth_by[parent] + 1
            depth_by[node] = d
            dep[i] = d
        order = np.argsort(keys)
        self.keys = keys[order]
        self.vals = vals[order]
        self.depth = dep[order]
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
        parents = bounded_dijkstra_parents(graph, root_idx, self.threshold_cm,
                                           access_mask=mask)
        entry = ParentMap(parents)
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


def nearest_node(graph, lon: float, lat: float) -> int:
    """X7 snap: planar-squared nearest node (composite/network.rs:155-165
    min-by d2 semantics)."""
    d2 = (graph.node_lon - lon) ** 2 + (graph.node_lat - lat) ** 2
    return int(np.argmin(d2))
