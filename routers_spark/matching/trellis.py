"""Trellis with the reference's forward pass and convergence (numpy).

The matcher solves trips with the batched compiled Viterbi
(``graph.dijkstra.viterbi``), which follows these same semantics; this
class serves the streaming matcher's convergence query, and the tests'
pure-numpy solve (``tests/test_trellis.py``) is the compiled solver's
oracle. Semantics reproduced from libs/routers_trellis/src/:
  - integer cost domain: NO_EDGE stored as INF_W = 2^30 so ``a + b`` never
    overflows u32 (trellis.rs:11-19, fill_transition at 252-289)
  - forward DP: ``next = min(cur + edge)`` over cur < INF_W, then the entered
    node's weight added once if reachable (viterbi.rs:61-95)
  - predecessor: argmin over ``dist[cur] saturating+ edge``, ties to the
    LOWEST node index (viterbi.rs:100-120) — backtrack and convergence agree
  - backtrack: best final node by (cost, index) min; >= INF_W → unreachable
    (the solve; see tests/test_trellis.py)
  - convergence: backward frontier narrowing via the same predecessor
    (viterbi.rs:170-202)
"""

from __future__ import annotations

import numpy as np

from routers_spark.config import INF_W, NO_EDGE


class Unreachable(Exception):
    pass


class Trellis:
    """widths: list[int]; node weights u32 per layer; transitions: one
    row-major u32 matrix per boundary or None (pending = a recorded gap,
    trellis.rs:160-174)."""

    def __init__(self, widths: list[int]):
        assert widths and all(w > 0 for w in widths)
        self.widths = list(widths)
        self.nodes = [np.zeros(w, dtype=np.uint32) for w in widths]
        self.trans: list[np.ndarray | None] = [None] * (len(widths) - 1)

    @classmethod
    def of(cls, node_weights: list, mats: list[np.ndarray]) -> "Trellis":
        """A trellis of per-layer node weights and the weighed boundary
        matrices between them; an all-NO_EDGE matrix is left pending (a
        recorded gap, weigh/mod.rs:170-175)."""
        t = cls([len(node_weights[0])])
        t.fill_nodes(0, node_weights[0])
        for w in node_weights[1:]:
            t.add_layer(len(w), w)
        for k, mat in enumerate(mats):
            if not np.all(mat == np.uint32(NO_EDGE)):
                t.fill_transition(k, mat)
        return t

    def add_layer(self, width: int, node_weights=None):
        assert width > 0
        self.widths.append(width)
        self.nodes.append(
            np.zeros(width, dtype=np.uint32) if node_weights is None
            else np.asarray(node_weights, dtype=np.uint32)
        )
        self.trans.append(None)

    def fill_nodes(self, layer: int, weights):
        w = np.asarray(weights, dtype=np.uint32)
        assert len(w) == self.widths[layer]
        self.nodes[layer] = w

    def fill_transition(self, boundary: int, rows: np.ndarray):
        """rows: (cur_width, next_width) u32 with NO_EDGE for absent; stored
        with NO_EDGE mapped to INF_W (trellis.rs:279-284). An all-NO_EDGE
        matrix must NOT be filled — leave pending (weigh/mod.rs:170-175)."""
        m = np.asarray(rows, dtype=np.uint32).reshape(
            self.widths[boundary], self.widths[boundary + 1]
        ).copy()
        m[m == np.uint32(NO_EDGE)] = np.uint32(INF_W)
        self.trans[boundary] = m

    def disconnections(self) -> list[int]:
        return [i for i, t in enumerate(self.trans) if t is None]

    # ------------------------------------------------------------- solving

    def _forward(self) -> list[np.ndarray]:
        """Per-layer DP cost arrays (uint32, INF-guarded)."""
        if any(t is None for t in self.trans):
            raise Unreachable("unresolved boundary")
        dist = [self.nodes[0].astype(np.uint64)]
        for k, m in enumerate(self.trans):
            cur = dist[-1]
            reach = cur < INF_W
            if reach.any():
                # min over reachable cur of cur + edge (uint64: no overflow)
                tot = cur[reach, None] + m[reach].astype(np.uint64)
                nxt = tot.min(axis=0)
            else:
                nxt = np.full(self.widths[k + 1], INF_W, dtype=np.uint64)
            nxt = np.minimum(nxt, INF_W)  # absent edges sit at INF_W already
            ok = nxt < INF_W
            nxt[ok] += self.nodes[k + 1][ok]
            dist.append(nxt)
        return dist

    def _predecessor(self, boundary: int, cur_cost: np.ndarray, chosen: int) -> int:
        """ties to lowest node (viterbi.rs:100-120); saturating add."""
        col = self.trans[boundary][:, chosen].astype(np.uint64)
        tot = np.minimum(cur_cost + col, np.uint64(0xFFFFFFFF))
        return int(np.argmin(tot))  # argmin takes first (lowest index) on ties

    def convergence(self) -> int | None:
        """Latest layer where all live final paths fuse (viterbi.rs:221-247).
        Returns a layer id or None (live paths never fuse)."""
        dist = self._forward()
        final = dist[-1]
        if np.all(final >= INF_W):
            raise Unreachable("no live final node")
        frontier = set(np.flatnonzero(final < INF_W).tolist())
        if len(frontier) == 1:
            return len(self.trans)
        for b in range(len(self.trans) - 1, -1, -1):
            frontier = {self._predecessor(b, dist[b], n) for n in frontier}
            if len(frontier) == 1:
                return b
        return None
