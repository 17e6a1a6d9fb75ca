"""Loop-free JVM-side Hilbert keys: chunked state-machine lookups.

The classic xy2d rotation loop (functions/cells.py hilbert_xy2h_np; twin of
fast_hilbert::xy2h, fragment.rs:69-71) carries a (swap, complement) rotation
state bit-by-bit — expressed naively as SQL that is a projection chain whose
expression tree doubles per level, which is exactly why the CTE program
needs materialization fences and why it measured ~6.4 s for the hilbert
levels alone at 8M rows (the per-level chain defeats whole-stage codegen).

This module removes the per-level chain entirely: the rotation state is a
4-element group, so K levels collapse into ONE transition-table lookup over
(state, x_chunk, y_chunk) → (digits, next_state). Chunks are at most 6 bits
wide, so every table has at most 4·64·64 = 16 Ki rows: a z12 tile key is two
broadcast hash joins, a z15/z16 key three, and the 30-level S2 position
(functions/s2_jvm.py) five — fully inside whole-stage codegen, no Python, no
Arrow transfer, no deep expression tree. Wider chunks save a probe but the
driver builds each table in pandas and broadcasts it per call: a 6-bit
chunk's table is L2-resident, an 8-bit one (256 Ki rows) costs seconds to
build and ship (BENCH.md, OPTIMIZATION_r06.md).

Bit-parity with hilbert_xy2h_np is pinned by tests/test_tiling.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MAX_CHUNK = 6  # 4·64·64 = 16 Ki-row table worst case


def chunk_plan(order: int) -> list[int]:
    """MSB-first chunk widths covering ``order`` bits, each ≤ _MAX_CHUNK."""
    out: list[int] = []
    left = order
    while left > 0:
        k = min(_MAX_CHUNK, left)
        out.append(k)
        left -= k
    return out


def chunk_table(k: int, first: bool) -> pd.DataFrame:
    """Transition table for one k-bit chunk, all rows vectorized.

    Columns: key = (state << 2k) | (xc << k) | yc  (state omitted when
    ``first`` — the walk always starts in state 0), d = the chunk's 2k
    Hilbert digits, st = the state handed to the next chunk.
    State encoding: bit0 = axis swap, bit1 = complement — the rotation
    carried by the classic loop, applied to raw bits as swap-then-flip.
    """
    n = 1 << k
    n_states = 1 if first else 4
    st0 = np.repeat(np.arange(n_states, dtype=np.int64), n * n)
    xc = np.tile(np.repeat(np.arange(n, dtype=np.int64), n), n_states)
    yc = np.tile(np.arange(n, dtype=np.int64), n_states * n)
    sw = st0 & 1
    c = (st0 >> 1) & 1
    d = np.zeros_like(st0)
    for i in range(k - 1, -1, -1):
        xb = (xc >> i) & 1
        yb = (yc >> i) & 1
        xe = np.where(sw == 1, yb, xb) ^ c
        ye = np.where(sw == 1, xb, yb) ^ c
        d = (d << 2) | ((3 * xe) ^ ye)
        upd = ye == 0
        c = np.where(upd & (xe == 1), c ^ 1, c)
        sw = np.where(upd, sw ^ 1, sw)
    key = (st0 << (2 * k)) | (xc << k) | yc
    return pd.DataFrame({"key": key, "d": d, "st": (c << 1) | sw})


def with_hilbert_jvm(df: DataFrame, xcol: str, ycol: str, order: int,
                     out: str = "hilbert") -> DataFrame:
    """``df`` + Hilbert index of (xcol, ycol) at ``order`` bits — pure JVM.

    One broadcast hash join per chunk (2 joins up to order 12, 5 at order
    30); the final index is reassembled from the per-chunk digits with
    shifts."""
    spark = df.sparkSession
    chunks = chunk_plan(order)
    cur = df
    lo = order
    digit_cols: list[tuple[str, int]] = []
    for ci, k in enumerate(chunks):
        lo -= k
        mask = (1 << k) - 1
        xc = F.shiftright(F.col(xcol), lo).bitwiseAND(F.lit(mask))
        yc = F.shiftright(F.col(ycol), lo).bitwiseAND(F.lit(mask))
        key: Column = F.shiftleft(xc, k).bitwiseOR(yc)
        if ci > 0:
            key = F.shiftleft(F.col(f"_hst{ci - 1}"), 2 * k).bitwiseOR(key)
        tbl = spark.createDataFrame(chunk_table(k, first=(ci == 0))).select(
            F.col("key").alias(f"_hk{ci}"),
            F.col("d").alias(f"_hd{ci}"),
            F.col("st").alias(f"_hst{ci}"),
        )
        # LEFT join: a NULL x/y produces a NULL key, which must yield a
        # NULL hilbert — an inner join would silently DROP the row (the
        # old expression-chain form kept it with a NULL sort key)
        cur = (cur.withColumn(f"_hk{ci}", key.cast("long"))
               .join(F.broadcast(tbl), f"_hk{ci}", "left"))
        digit_cols.append((f"_hd{ci}", k))
    expr = None
    bits_below = 2 * order
    for name, k in digit_cols:
        bits_below -= 2 * k
        piece = F.shiftleft(F.col(name), bits_below) if bits_below else F.col(name)
        expr = piece if expr is None else expr.bitwiseOR(piece)
    drop = [c for ci in range(len(chunks))
            for c in (f"_hk{ci}", f"_hd{ci}", f"_hst{ci}")]
    return cur.withColumn(out, expr.cast("long")).drop(*drop)
