"""Viterbi vs brute-force oracle on seeded random trellises — the port of
libs/routers_trellis/tests/trellis.rs (random_trellis at :15-44, node-weight
steering :196-229) with solver/brute.rs as the oracle."""

import itertools

import numpy as np
import pytest

from routers_spark.config import INF_W, NO_EDGE
from routers_spark.matching.trellis import Trellis, Unreachable


def brute_solve(t: Trellis) -> tuple[list[int], int]:
    """Exhaustive oracle (libs/routers_trellis/src/solver/brute.rs:31-96):
    enumerate every full path, total = path_cost, pick min by
    ``(cost, reversed path)`` — Viterbi breaks ties walking BACKWARD from the
    lowest final node (viterbi.rs:105-120, 130-136), which is lexicographic
    order over the reversed node sequence."""
    best_path, best_cost, best_key = None, None, None
    for combo in itertools.product(*[range(w) for w in t.widths]):
        cost = t.path_cost(list(combo))
        if cost >= INF_W:
            continue
        key = (cost, tuple(reversed(combo)))
        if best_key is None or key < best_key:
            best_path, best_cost, best_key = list(combo), cost, key
    if best_path is None:
        raise Unreachable("brute: no path")
    return best_path, best_cost


def random_trellis(rng, layers, max_width, max_weight=1000, p_absent=0.0,
                   node_weights=False) -> Trellis:
    widths = rng.integers(1, max_width + 1, layers).tolist()
    t = Trellis([widths[0]])
    if node_weights:
        t.fill_nodes(0, rng.integers(0, max_weight, widths[0]))
    for w in widths[1:]:
        nw = rng.integers(0, max_weight, w) if node_weights else None
        t.add_layer(w, nw)
    for k in range(len(widths) - 1):
        m = rng.integers(0, max_weight, (widths[k], widths[k + 1])).astype(np.uint32)
        if p_absent > 0:
            mask = rng.random((widths[k], widths[k + 1])) < p_absent
            m[mask] = np.uint32(NO_EDGE)
            if np.all(m == np.uint32(NO_EDGE)):
                m[0, 0] = 1  # keep solvable
        t.fill_transition(k, m)
    return t


@pytest.mark.parametrize("seed", range(20))
def test_viterbi_matches_brute(seed):
    rng = np.random.default_rng(seed)
    t = random_trellis(rng, layers=int(rng.integers(2, 6)), max_width=4,
                       node_weights=bool(seed % 2), p_absent=0.3 if seed % 3 else 0.0)
    v_path, v_cost = t.solve()
    b_path, b_cost = brute_solve(t)
    assert v_cost == b_cost
    assert v_path == b_path
    assert t.path_cost(v_path) == v_cost


def test_viterbi_small_known():
    # hand-checkable: 2 layers, emission steering
    t = Trellis([2])
    t.fill_nodes(0, [5, 0])
    t.add_layer(2, [0, 10])
    t.fill_transition(0, np.array([[1, 1], [100, 100]], dtype=np.uint32))
    path, cost = t.solve()
    # paths: (0,0)=5+1+0=6 (0,1)=5+1+10=16 (1,0)=0+100=100 (1,1)=110
    assert (path, cost) == ([0, 0], 6)


def test_unreachable_all_no_edge_boundary():
    t = Trellis([2])
    t.add_layer(2)
    # all-NO_EDGE must be left pending (a recorded gap), not filled
    assert t.disconnections() == [0]
    with pytest.raises(Unreachable):
        t.solve()


def test_inf_guard_no_overflow():
    # INF_W + large weight must not wrap: unreachable layer stays unreachable
    t = Trellis([1])
    t.add_layer(1)
    t.add_layer(1)
    m = np.array([[NO_EDGE]], dtype=np.uint32)
    m2 = np.array([[1]], dtype=np.uint32)
    t.fill_transition(0, m)   # absent → INF_W internally... but all-NO_EDGE
    # fill_transition of all-NO_EDGE was stored; semantics: the weigher never
    # fills such a matrix. Simulate the weigher: mark pending again.
    t.trans[0] = None
    t.fill_transition(1, m2)
    assert t.disconnections() == [0]


def test_convergence_single_final_node():
    t = Trellis([3])
    t.add_layer(1)
    t.fill_transition(0, np.array([[1], [2], [3]], dtype=np.uint32))
    assert t.convergence() == 1  # single live final node → latest layer


def test_convergence_fuse_through_shared_node():
    # layer0(1) -> layer1(2) -> layer2(2): both final nodes' optimal paths
    # pick layer-1 node 0 (cheaper entry), so the frontier fuses at layer 1
    t = Trellis([1])
    t.add_layer(2)
    t.add_layer(2)
    t.fill_transition(0, np.array([[1, 2]], dtype=np.uint32))
    t.fill_transition(1, np.array([[1, 1], [1, 1]], dtype=np.uint32))
    c = t.convergence()
    assert c == 1


def test_convergence_monotone_under_append():
    rng = np.random.default_rng(3)
    t = random_trellis(rng, layers=4, max_width=3)
    c1 = t.convergence()
    # append a layer (viterbi.rs doc: the point never moves backwards)
    t.add_layer(2)
    t.fill_transition(len(t.widths) - 2,
                      rng.integers(0, 100, (t.widths[-2], 2)).astype(np.uint32))
    c2 = t.convergence()
    if c1 is not None and c2 is not None:
        assert c2 >= c1


def test_partitioned_solve_equals_suffix():
    # trellis.last(n) analog: solving a suffix equals solving the suffix alone
    rng = np.random.default_rng(9)
    t = random_trellis(rng, layers=5, max_width=3)
    # build suffix trellis of last 3 layers manually
    s = Trellis([t.widths[2]])
    s.fill_nodes(0, t.nodes[2])
    for k in (3, 4):
        s.add_layer(t.widths[k], t.nodes[k])
    s.trans[0] = t.trans[2].copy()
    s.trans[1] = t.trans[3].copy()
    p, c = s.solve()
    bp, bc = brute_solve(s)
    assert (p, c) == (bp, bc)
