"""JVM-side Hilbert keys as one Column: chunked state-machine lookups.

The classic xy2d rotation loop (functions/cells.py hilbert_xy2h_np; twin of
fast_hilbert::xy2h, fragment.rs:69-71) carries a (swap, complement) rotation
state bit by bit. The state is a 4-element group, so three levels collapse
into one lookup over (state, x_chunk, y_chunk) -> (digits, next_state): a
256-entry table, packed as ``(digits << 2) | next_state`` and held in one
array literal. ``hilbert_col`` is one ``element_at`` per 3-bit chunk, MSB
first, so a key needs no join, no Python and no per-call DataFrame.

Each lookup is read twice, for its digits and for the next chunk's state,
so the expression tree grows with the square of the chunk count (10 chunks
at order 30), not exponentially; whole-stage codegen's subexpression
elimination evaluates each lookup once.

Bit-parity with hilbert_xy2h_np is pinned by tests/test_tiling.py.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

_K = 3  # bits per axis per lookup: 4 states x 8 x 8 = 256 entries


def chunk_table() -> np.ndarray:
    """Packed transition table for one 3-bit chunk, all rows vectorized.

    Entry ``(state << 6) | (xc << 3) | yc`` holds ``(d << 2) | st``: d =
    the chunk's 6 Hilbert digits, st = the state handed to the next chunk.
    State encoding: bit0 = axis swap, bit1 = complement — the rotation
    carried by the classic loop, applied to raw bits as swap-then-flip.
    """
    n = 1 << _K
    st0 = np.repeat(np.arange(4, dtype=np.int64), n * n)
    xc = np.tile(np.repeat(np.arange(n, dtype=np.int64), n), 4)
    yc = np.tile(np.arange(n, dtype=np.int64), 4 * n)
    sw = st0 & 1
    c = (st0 >> 1) & 1
    d = np.zeros_like(st0)
    for i in range(_K - 1, -1, -1):
        xb = (xc >> i) & 1
        yb = (yc >> i) & 1
        xe = np.where(sw == 1, yb, xb) ^ c
        ye = np.where(sw == 1, xb, yb) ^ c
        d = (d << 2) | ((3 * xe) ^ ye)
        upd = ye == 0
        c = np.where(upd & (xe == 1), c ^ 1, c)
        sw = np.where(upd, sw ^ 1, sw)
    return ((d << 2) | (c << 1) | sw).astype(np.int32)


@functools.cache
def _table_lit() -> Column:
    # one array literal per process: a numpy array becomes a single
    # Literal node (a Python list would be 256 child expressions)
    return F.lit(chunk_table())


@functools.cache
def hilbert_col(x: str, y: str, order: int) -> Column:
    """Hilbert index of columns ``x`` and ``y`` at ``order`` bits per axis,
    as a BIGINT Column. Built once per process for each (x, y, order): the
    tree costs some 70 Py4J round trips, and a Column of unresolved
    column names belongs to no session, so it outlives a restarted one.

    Reads only the low ``order`` bits of each coordinate, as the classic
    loop does. A NULL coordinate gives a NULL key (``element_at`` of a NULL
    index is NULL). When ``order`` is not a multiple of 3, the top chunk is
    narrower: it reads as a full chunk whose missing high bits are zero,
    and each zero level toggles only the swap bit, so the walk starts in
    state ``pad & 1`` to arrive in state 0 at the first real level."""
    tbl = _table_lit()
    k = order - _K * ((order - 1) // _K)  # top chunk width, 1.._K
    off = 1 + (((_K - k) & 1) << (2 * _K))  # 1-based, plus the start state
    lo = order
    key = state = None
    while lo > 0:
        lo -= k
        m = (1 << k) - 1
        idx = (F.shiftleft(F.shiftright(x, lo).bitwiseAND(m), _K)
               .bitwiseOR(F.shiftright(y, lo).bitwiseAND(m)))
        if state is not None:
            idx = F.shiftleft(state, 2 * _K).bitwiseOR(idx)
        hit = F.element_at(tbl, (idx + off).cast("int"))
        digits = F.shiftright(hit, 2).cast("long")
        if lo:
            digits = F.shiftleft(digits, 2 * lo)
        key = digits if key is None else key.bitwiseOR(digits)
        state = hit.bitwiseAND(3)
        k, off = _K, 1
    return key
