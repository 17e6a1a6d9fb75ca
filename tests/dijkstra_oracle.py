"""Pure-Python bounded Dijkstra: the oracle the compiled kernel
(``routers_spark/graph/bounded_dijkstra.c``) must equal node for node —
same pop order, same parents, same depths (PredicateCache::calculate,
cache.rs:291-326; cost semantics in ``routers_spark.graph.dijkstra``)."""

from __future__ import annotations

import heapq
import weakref

import numpy as np

from routers_spark.config import DIJKSTRA_BOUND_CM
from routers_spark.graph.dijkstra import ParentMap

# CSR adjacency as plain Python lists, one per graph: numpy scalar indexing
# in the heap loop costs ~2.5x over list indexing
_ADJ: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _adj_for(graph):
    a = _ADJ.get(graph)
    if a is None:
        erows = graph.csr_edge_row
        a = _ADJ[graph] = {
            "indptr": graph.csr_indptr.tolist(),
            "dst": graph.edge_dst[erows].tolist(),
            "w": graph.edge_weight[erows].astype(np.int64).tolist(),
            "len": graph.edge_len_cm[erows].astype(np.int64).tolist(),
            "erow": erows.tolist(),
        }
    return a


def bounded_dijkstra_parents(
    graph, root_idx: int, threshold_cm: float = DIJKSTRA_BOUND_CM,
    access_mask: np.ndarray | None = None,
) -> dict[int, int]:
    """Parent-pointer map of every node popped before the distance cutoff,
    in pop order (dict insertion order). The root maps to itself."""
    a = _adj_for(graph)
    indptr = a["indptr"]
    dst_l = a["dst"]
    w_l = a["w"]
    len_l = a["len"]
    erow_l = a["erow"]

    # heap entries: (repr, seq, node, num, den, dist_cm, parent); seq keeps
    # ties FIFO (the Rust BinaryHeap tie order is unspecified)
    seq = 0
    heap = [(0, 0, root_idx, 0, 0, 0, root_idx)]
    seen: set[int] = set()
    best: dict[int, int] = {}
    parents: dict[int, int] = {}

    while heap:
        rep, _, node, num, den, dist, parent = heapq.heappop(heap)
        if node in seen:
            continue
        seen.add(node)
        if dist >= threshold_cm:
            break  # take_while: iteration ends entirely
        parents[node] = parent
        for i in range(indptr[node], indptr[node + 1]):
            if access_mask is not None and not access_mask[erow_l[i]]:
                continue
            nxt = dst_l[i]
            if nxt in seen:
                continue
            n_num = num + w_l[i]
            n_den = den + 1
            n_dist = dist + len_l[i]
            # Rust's `as u32` float cast saturates (weight_and_distance.rs:34-36)
            n_rep = min(int(float((n_num // n_den) ** 2) * float(n_dist)),
                        0xFFFFFFFF)
            prev = best.get(nxt)
            if prev is not None and prev <= n_rep:
                continue
            seq += 1
            best[nxt] = n_rep
            heapq.heappush(heap, (n_rep, seq, nxt, n_num, n_den, n_dist, node))
    return parents


def pop_order(parents: dict[int, int]):
    """The dict form as ``dijkstra.settle`` returns it: (nodes, parents,
    depths) in pop order. A parent is popped before its child, so one
    forward pass over the insertion order yields every depth."""
    depth_by: dict[int, int] = {}
    for node, parent in parents.items():
        depth_by[node] = 0 if parent == node else depth_by[parent] + 1
    k = len(parents)
    return (np.fromiter(parents.keys(), dtype=np.int64, count=k),
            np.fromiter(parents.values(), dtype=np.int64, count=k),
            np.fromiter(depth_by.values(), dtype=np.int64, count=k))


def parent_map_from_dict(parents: dict[int, int]) -> ParentMap:
    return ParentMap(*pop_order(parents))
