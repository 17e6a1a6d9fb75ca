"""Viterbi vs brute-force oracle on seeded random trellises — the port of
libs/routers_trellis/tests/trellis.rs (random_trellis at :15-44, node-weight
steering :196-229) with solver/brute.rs as the oracle — and the matcher's
batched compiled Viterbi (``graph.dijkstra.viterbi``) against the
pure-numpy solve kept here (``solve``)."""

import itertools

import numpy as np
import pytest

from routers_spark.config import INF_W, MAX_WEIGHT, NO_EDGE
from routers_spark.graph.dijkstra import viterbi
from routers_spark.matching.trellis import Trellis, Unreachable


def solve(t: Trellis) -> tuple[list[int], int]:
    """Minimum-cost node path + cost (viterbi solve, viterbi.rs:256-264):
    the forward pass, then the lowest-index best final node, then the
    predecessor walk back."""
    dist = t._forward()
    final = dist[-1]
    best = int(np.argmin(final))
    best_cost = int(final[best])
    if best_cost >= INF_W:
        raise Unreachable("no path")
    path = [best]
    for b in range(len(t.trans) - 1, -1, -1):
        path.append(t._predecessor(b, dist[b], path[-1]))
    path.reverse()
    return path, best_cost


def path_cost(t: Trellis, path: list[int]) -> int:
    """Audit: recompute a named path's cost, saturating (trellis.rs:339-356)."""
    cost = int(t.nodes[0][path[0]])
    for k, (a, b) in enumerate(zip(path, path[1:])):
        edge = int(t.trans[k][a, b]) if t.trans[k] is not None else INF_W
        cost = min(cost + edge + int(t.nodes[k + 1][b]), 0xFFFFFFFF)
    return cost


def brute_solve(t: Trellis) -> tuple[list[int], int]:
    """Exhaustive oracle (libs/routers_trellis/src/solver/brute.rs:31-96):
    enumerate every full path, total = path_cost, pick min by
    ``(cost, reversed path)`` — Viterbi breaks ties walking BACKWARD from the
    lowest final node (viterbi.rs:105-120, 130-136), which is lexicographic
    order over the reversed node sequence."""
    best_path, best_cost, best_key = None, None, None
    for combo in itertools.product(*[range(w) for w in t.widths]):
        cost = path_cost(t, list(combo))
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
    v_path, v_cost = solve(t)
    b_path, b_cost = brute_solve(t)
    assert v_cost == b_cost
    assert v_path == b_path
    assert path_cost(t, v_path) == v_cost


def test_viterbi_small_known():
    # hand-checkable: 2 layers, emission steering
    t = Trellis([2])
    t.fill_nodes(0, [5, 0])
    t.add_layer(2, [0, 10])
    t.fill_transition(0, np.array([[1, 1], [100, 100]], dtype=np.uint32))
    path, cost = solve(t)
    # paths: (0,0)=5+1+0=6 (0,1)=5+1+10=16 (1,0)=0+100=100 (1,1)=110
    assert (path, cost) == ([0, 0], 6)


def test_unreachable_all_no_edge_boundary():
    t = Trellis([2])
    t.add_layer(2)
    # all-NO_EDGE must be left pending (a recorded gap), not filled
    assert t.disconnections() == [0]
    with pytest.raises(Unreachable):
        solve(t)


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
    p, c = solve(s)
    bp, bc = brute_solve(s)
    assert (p, c) == (bp, bc)


# ---------------------------------------------- the compiled batched Viterbi


def oracle_trip(weights: list, mats: list) -> tuple:
    """(status, path, cost, breaks) of one trip under the Trellis
    semantics, as the matcher reports it."""
    t = Trellis.of(weights, mats)
    breaks = t.disconnections()
    if breaks:
        return "disconnected", None, None, breaks
    try:
        path, cost = solve(t)
    except Unreachable:
        return "unreachable", None, None, []
    return "matched", path, cost, []


def compiled_trips(trips: list, solve_mask=None) -> list:
    """Every (weights, mats) trip of ``trips`` in ONE viterbi call, read
    back into the shape of ``oracle_trip``."""
    widths = [len(w) for ws, _ in trips for w in ws]
    trip_off = np.cumsum([0] + [len(ws) for ws, _ in trips])
    layer_off = np.cumsum([0] + widths)
    mat_off = np.zeros(len(widths), dtype=np.int64)
    flat, at = [], 0
    for t, (_, mats) in enumerate(trips):
        for k, m in enumerate(mats):
            mat_off[trip_off[t] + k] = at
            at += m.size
            flat.append(m.ravel())
    mask = (np.ones(len(trips), dtype=bool) if solve_mask is None
            else solve_mask)
    status, path, cost, broken = viterbi(
        trip_off, layer_off, mat_off,
        np.concatenate([np.asarray(w, dtype=np.uint32)
                        for ws, _ in trips for w in ws]),
        np.concatenate(flat + [np.empty(0, dtype=np.uint32)]), mask)
    out = []
    for t in range(len(trips)):
        l0, l1 = trip_off[t], trip_off[t + 1]
        if status[t] == 0:
            out.append(("matched", path[l0:l1].tolist(), int(cost[t]), []))
        elif status[t] == 1:
            out.append(("disconnected", None, None,
                        np.flatnonzero(broken[l0:l1 - 1]).tolist()))
        elif status[t] == 2:
            out.append(("unreachable", None, None, []))
        else:
            out.append(("skipped", None, None, []))
    return out


# values at the edges of the cost domain: ties, the trellis ceiling, INF_W
# and u32 saturation (NO_EDGE itself only in matrices, where it is "absent")
_EDGE_VALUES = np.array([0, 1, 2, 3, MAX_WEIGHT, INF_W - 1, INF_W, INF_W + 1,
                         2**31, 0xFFFF_FFFE], dtype=np.uint32)


def random_trip(rng) -> tuple[list, list]:
    n_layers = int(rng.integers(1, 6))
    widths = rng.integers(1, 5, n_layers)
    weights = []
    for w in widths:
        small = rng.integers(0, 4, w)
        edge = rng.choice(_EDGE_VALUES, w)
        weights.append(np.where(rng.random(w) < 0.15, edge, small)
                       .astype(np.uint32))
    mats = []
    for a, b in zip(widths, widths[1:]):
        m = rng.integers(0, 4, (a, b)).astype(np.uint32)
        pick = rng.random((a, b))
        m[pick < 0.2] = rng.choice(_EDGE_VALUES, (a, b))[pick < 0.2]
        m[pick > 0.75] = np.uint32(NO_EDGE)
        if rng.random() < 0.05:
            m[:] = np.uint32(NO_EDGE)   # a disconnected boundary
        elif rng.random() < 0.05:
            m[:] = np.uint32(INF_W)     # filled, yet nothing gets through
        mats.append(m)
    return weights, mats


@pytest.mark.parametrize("seed", range(8))
def test_compiled_viterbi_equals_oracle(seed):
    rng = np.random.default_rng(100 + seed)
    trips = [random_trip(rng) for _ in range(120)]
    want = [oracle_trip(*t) for t in trips]
    # one call per trip, and one call for all of them
    assert [compiled_trips([t])[0] for t in trips] == want
    assert compiled_trips(trips) == want
    seen = {w[0] for w in want}
    assert {"matched", "disconnected", "unreachable"} <= seen


def test_compiled_viterbi_edge_cases():
    u = lambda *v: np.array(v, dtype=np.uint32)  # noqa: E731
    trips = [
        # ties everywhere: the lowest index wins at every layer
        ([u(0, 0, 0), u(0, 0)], [np.zeros((3, 2), dtype=np.uint32)]),
        # one layer: the cheapest node alone
        ([u(7, 3, 3)], []),
        # width-1 layers
        ([u(1), u(2), u(3)], [u(4).reshape(1, 1), u(5).reshape(1, 1)]),
        # an all-NO_EDGE boundary between two good ones
        ([u(0), u(0), u(0), u(0)],
         [u(1).reshape(1, 1), u(NO_EDGE).reshape(1, 1),
          u(1).reshape(1, 1)]),
        # a final layer nothing reaches below INF_W
        ([u(0, 0), u(0)], [u(INF_W, INF_W).reshape(2, 1)]),
        # a cost just under INF_W still expands, but entering a heavy node
        # lifts the final cost past INF_W: unreachable
        ([u(INF_W - 2, 0xFFFF_FFFF), u(0xFFFF_FFFF, 1)],
         [u(1, 0xFFFF_FFFE, 0xFFFF_FFFE, 0).reshape(2, 2)]),
        # a first-layer node at u32 max never expands, and its predecessor
        # sum saturates at u32 max instead of wrapping to a small value
        ([u(0xFFFF_FFFF, 5), u(1)], [u(0xFFFF_FFFE, 3).reshape(2, 1)]),
    ]
    want = [oracle_trip(*t) for t in trips]
    assert [w[0] for w in want] == ["matched", "matched", "matched",
                                   "disconnected", "unreachable",
                                   "unreachable", "matched"]
    assert want[6][1:3] == ([1, 0], 9)
    assert want[0][1] == [0, 0] and want[1][1:3] == ([1], 3)
    assert want[3][3] == [1]
    assert compiled_trips(trips) == want
    # a trip that is not to be solved is left alone
    skip = compiled_trips(trips, np.arange(len(trips)) % 2 == 0)
    assert skip[1::2] == [("skipped", None, None, [])] * 3
    assert skip[0::2] == want[0::2]


def test_compiled_viterbi_rejects_offsets_outside_its_arrays():
    w = np.zeros(4, dtype=np.uint32)
    m = np.zeros(4, dtype=np.uint32)
    good = ([0, 2], [0, 2, 4], [0, 0], w, m, [True])
    assert viterbi(*good)[0].tolist() == [0]
    bad = [
        ([0, 2], [0, 2, 4], [1, 0], w, m, [True]),     # matrix past the end
        ([0, 2], [0, 2, 5], [0, 0], w, m, [True]),     # layer past weights
        ([0, 3], [0, 2, 4], [0, 0], w, m, [True]),     # trip past the layers
        ([0, 2], [0, 0, 4], [0, 0], w, m, [True]),     # empty layer
        ([0, 0, 2], [0, 2, 4], [0, 0], w, m, [True, True]),  # empty trip
        ([0, 2], [0, 2, 4], [0, 0], w, m, [True, True]),
    ]
    for args in bad:
        with pytest.raises(ValueError):
            viterbi(*args)
    # an empty trip or layer is fine when the trip is not solved
    assert viterbi([0, 0, 2], [0, 2, 4], [0, 0], w, m,
                   [False, True])[0].tolist() == [-1, 0]
