"""Batched boundary weighing (M4/M5/M8): the matcher's one transition
kernel.

Every (src, tgt) pair of every boundary handed in at once (the analog of
the reference's rayon boundary × row sweep, weigh/mod.rs:89-141) is weighed
in the compiled library beside the bounded Dijkstra
(``graph/bounded_dijkstra.c``, loaded and guarded as
``graph.dijkstra.WeighCall``), in two passes with one numpy ``arcsin`` and
one numpy ``arctan2`` between them:

  1. the pairs are enumerated in matrix-cell order and classified direct /
     same-edge / standard (candidate/entry.rs:92-106); the standard pairs'
     roots are settled in the predicate cache's arena (only its misses, in
     one compiled Dijkstra call); each (root, leaf) lane is located once
     and its parent pointers walked once (expansion.rs:63-97), with the
     lowest edge row of each node pair (G2); the arguments of every
     haversine's arcsin and every bearing's arctan2 go to flat buffers
  2. headings with the < 1 m skip (map_path/entity.rs:149-168), angular
     complexity (entity.rs:229-297: wrap, damped cos, zero cut, harmonic
     mean summed left to right), route length, the transition value
     (costing/default.rs:137-163), the u32 decay (costing/util.rs:29-39)
     and one scatter into the flat buffer ``viterbi`` reads

arcsin and arctan2 stay in numpy because on AVX-512 hosts its SIMD loops
for them differ from libm's by an ulp on some inputs; the kernel's sin,
cos, sqrt, fmod and degree/radian multiplies are libm's, in the operation
order of ``functions/geo``, and ``tests/test_weigh_vec.py`` checks they
equal numpy's. The matcher's ``_solve_trips`` hands in a chunk of
consecutive trips per call (``WEIGH_PAIR_BUDGET`` candidate pairs) straight
from its candidate table; ``solve_trip`` one trip, or only the streaming
cache's misses. A boundary's matrix does not depend on what else is in the
call. The numpy weigher these matrices equal bit for bit lives in
``tests/weigh_oracle.py``, the per-pair scalar oracle in
``tests/test_weigh_vec.py``.
"""

from __future__ import annotations

import numpy as np

from routers_spark.config import (
    COST_CLAMP_LO,
    COST_PRECISION,
    MAX_WEIGHT,
    NO_EDGE,
)
from routers_spark.functions.geo import haversine_m_np
from routers_spark.graph.dijkstra import WeighCall


def weigh_boundaries(graph, cache, boundaries: list[tuple[dict, dict]],
                     fanout: int | None = None,
                     profile=None, costing=None) -> list[np.ndarray]:
    """Dense (m, n) uint32 transition matrix for each (A, B) candidate-layer
    pair in ``boundaries``, NO_EDGE where unreachable: the layers are
    stacked into one candidate table (A then B per boundary) for
    :func:`weigh_flat`, and every matrix is a view of its flat buffer."""
    sides = [side for b in boundaries for side in b]
    width = np.array([len(s["edge_row"]) for s in sides], dtype=np.int64)
    off = np.concatenate([[0], np.cumsum(width)])
    cols = [np.concatenate([np.asarray(s[c], dtype=dt) for s in sides]
                           + [np.empty(0, dtype=dt)])
            for c, dt in (("edge_row", np.int64), ("frac", np.float64),
                          ("px", np.float64), ("py", np.float64))]
    flat, moff = weigh_flat(graph, cache, *cols, off[0:-1:2], off[1::2],
                            off[2::2], fanout=fanout, profile=profile,
                            costing=costing)
    return [flat[moff[k]:moff[k + 1]].reshape(width[2 * k], width[2 * k + 1])
            for k in range(len(boundaries))]


def weigh_flat(graph, cache, edge_row, frac, px, py, lo, mid, hi,
               fanout: int | None = None, profile=None,
               costing=None) -> tuple[np.ndarray, np.ndarray]:
    """Transition matrices of many boundaries over one candidate table
    (per candidate: ``edge_row``, ``frac``, ``px``, ``py``). Boundary k
    pairs the candidates ``lo[k]:mid[k]`` (its A layer) with
    ``mid[k]:hi[k]`` (its B layer). Returns ``(flat, moff)``: boundary k's
    row-major u32 matrix is ``flat[moff[k]:moff[k + 1]]``, NO_EDGE where
    unreachable. Offsets or edge rows that disagree with the table raise
    ``ValueError``."""
    lo, mid, hi = (np.asarray(a, dtype=np.int64) for a in (lo, mid, hi))
    moff = np.zeros(len(lo) + 1, dtype=np.int64)
    np.cumsum((mid - lo) * (hi - mid), out=moff[1:])
    flat = np.full(int(moff[-1]), np.uint32(NO_EDGE), dtype=np.uint32)
    keep = (_fanout_mask(px, py, lo, mid, hi, moff, fanout)
            if fanout is not None else None)
    tstrat = costing.transition if costing is not None else None
    zeta = tstrat.zeta if tstrat is not None else 1.0
    beta = tstrat.beta if tstrat is not None else 1.0
    with WeighCall(graph, cache, edge_row, frac, px, py, lo, mid, hi, moff,
                   keep, profile) as call:
        np.arcsin(call.asin, out=call.asin)
        np.arctan2(call.atan_y, call.atan_x, out=call.atan_y)
        if beta == 1.0 and (tstrat is None or tstrat.calculate is None):
            call.finish(flat, zeta)
            return flat, moff
        cells, straight, route_len, angular, w_s, w_t, value = call.values()
    if tstrat.calculate is not None:
        # §2.9 injected heuristic: vectorized contract, NaN ≙ None
        value = np.asarray(
            tstrat.calculate(straight, route_len, angular, w_s, w_t),
            dtype=np.float64)
        value = np.where(np.isnan(value), 0.0, value)
    # decay to u32 + trellis ceiling (util.rs:29-39; weigh/mod.rs:83)
    inv = 1.0 / np.minimum(np.maximum(value, COST_CLAMP_LO), 1.0)
    if beta != 1.0:
        inv = inv ** beta
    flat[cells] = np.minimum(((COST_PRECISION * zeta) * inv).astype(np.int64),
                             MAX_WEIGHT).astype(np.uint32)
    return flat, moff


def _fanout_mask(px, py, lo, mid, hi, moff, fanout: int) -> np.ndarray:
    """M9 selective fan-out over the flat pairs: per source, only its
    ``fanout`` nearest targets (selective.rs:69-88; np.argpartition =
    select_nth_unstable), for each boundary wider than ``fanout``."""
    sel = np.ones(int(moff[-1]), dtype=bool)
    for k in np.nonzero(hi - mid > fanout)[0]:
        a, b = slice(lo[k], mid[k]), slice(mid[k], hi[k])
        d = haversine_m_np(px[a][:, None], py[a][:, None],
                           px[b][None, :], py[b][None, :])
        part = np.argpartition(d, fanout - 1, axis=1)[:, :fanout]
        s = np.zeros(d.shape, dtype=bool)
        np.put_along_axis(s, part, True, axis=1)
        sel[moff[k]:moff[k + 1]] = s.ravel()
    return sel
