"""S2 cell-id encoding (lon/lat -> 64-bit S2CellId), from scratch.

The north rule names an "H3/S2 index" alongside the reference's own
geohash/quadtree strategies (strategy/geohash.rs, strategy/quadtree.rs);
this module adds the S2 leg: the public S2 geometry cell decomposition —
unit sphere -> 6 cube faces -> quadratic (u,v)->(s,t) projection ->
discretized (i,j) -> Hilbert-curve position -> 64-bit cell id with the
level encoded as a trailing-1 sentinel. Everything here is re-derived
from the published algorithm description (s2geometry.io docs); no S2
library exists in this environment and none is used.

Cell ids follow the signed-64-bit two's-complement convention of the
public Java port (faces 4/5 set bit 63, so ids compare correctly only
unsigned; we store the same BIT PATTERN as BIGINT — both Spark and
DuckDB agree on two's-complement bit algebra, so the driver's oracle
comparison is exact).

Twin of sqlgen.s2_cellid_cte_sql — the numpy kernel here is the
reference for pytest; the generated SQL is the DuckDB oracle of the gated
query, and functions/s2_jvm.py is its Spark side. Both product forms run
the Hilbert fold through the tile kernels (cells.hilbert_xy2h_np,
hilbert_jvm.hilbert_col); the orientation tables below drive only
the oracle CTE, so the oracle and the kernels are independent Hilbert
implementations.
"""

from __future__ import annotations

import numpy as np

from .cells import hilbert_xy2h_np

MAX_LEVEL = 30

# Hilbert sub-cell order per orientation. Orientation is 2 bits:
# bit0 = swap (transpose i/j), bit1 = invert (reflect both axes).
# KIJTOPOS[orientation][i_bit*2 + j_bit] -> position 0..3 along the curve;
# KPOS_TO_ORIENTATION[pos] -> orientation XOR-delta for the child cell.
KIJTOPOS = (
    (0, 1, 3, 2),  # orientation 0: canonical U order
    (0, 3, 1, 2),  # orientation 1 (swap)
    (2, 3, 1, 0),  # orientation 2 (invert)
    (2, 1, 3, 0),  # orientation 3 (swap|invert)
)
KPOS_TO_ORIENTATION = (1, 0, 0, 3)  # (swap, 0, 0, swap|invert)

# Flattened by idx = orientation*4 + ij (the form the SQL generator folds):
# position, and the CHILD orientation (parent orientation already folded
# in: NEWO[idx] = o ^ delta[KIJTOPOS[o][ij]]).
KIJTOPOS_FLAT = tuple(KIJTOPOS[o][ij] for o in range(4) for ij in range(4))
NEWO_FLAT = tuple(
    o ^ KPOS_TO_ORIENTATION[KIJTOPOS[o][ij]]
    for o in range(4)
    for ij in range(4)
)


def face_uv_np(lon_deg, lat_deg):
    """(face, u, v) of each lon/lat point: largest-|component| cube face,
    then the gnomonic projection onto that face's tangent plane."""
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64))
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    x = np.cos(lat) * np.cos(lon)
    y = np.cos(lat) * np.sin(lon)
    z = np.sin(lat)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    axis = np.where(ax >= ay, np.where(ax >= az, 0, 2),
                    np.where(ay >= az, 1, 2))
    comp = np.choose(axis, [x, y, z])
    face = np.where(comp >= 0, axis, axis + 3).astype(np.int64)
    # per-face (u, v) — the standard S2 face frame. np.select evaluates
    # every branch, so off-face divisions may hit 0 — suppressed, unused.
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [y / x, -x / y, -x / z, z / x, z / y],
            default=-y / z,
        )
        v = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [z / x, z / y, -y / z, y / x, -x / y],
            default=-x / z,
        )
    return face, u, v


def uv_to_st_np(u):
    """Quadratic projection: equal-area-ish reparametrization of [-1,1]
    face coords into [0,1] — the S2_QUADRATIC_PROJECTION variant."""
    u = np.asarray(u, dtype=np.float64)
    # np.where evaluates both branches; the unselected one can see a
    # negative radicand (|u| > 1/3) — suppressed, unused.
    with np.errstate(invalid="ignore"):
        return np.where(u >= 0.0,
                        0.5 * np.sqrt(1.0 + 3.0 * u),
                        1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u))


def st_to_ij_np(s):
    scaled = np.floor(np.asarray(s, dtype=np.float64) * (1 << MAX_LEVEL))
    return np.clip(scaled, 0, (1 << MAX_LEVEL) - 1).astype(np.int64)


def hilbert_pos_np(face, i, j):
    """60-bit Hilbert position of leaf (i, j) on ``face``: the tile Hilbert
    kernel at 30 bits, with (i, j) transposed on odd faces (their fold
    starts in the swap orientation)."""
    face = np.asarray(face, dtype=np.int64)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    odd = (face & 1) == 1
    return hilbert_xy2h_np(np.where(odd, j, i), np.where(odd, i, j),
                           MAX_LEVEL)


def s2_cellid_np(lon_deg, lat_deg, level: int = MAX_LEVEL) -> np.ndarray:
    """64-bit S2 cell id (two's-complement int64 bit pattern) at ``level``."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}], got {level}")
    face, u, v = face_uv_np(lon_deg, lat_deg)
    i = st_to_ij_np(uv_to_st_np(u))
    j = st_to_ij_np(uv_to_st_np(v))
    pos = hilbert_pos_np(face, i, j)
    leaf = (face.astype(np.uint64) << np.uint64(61)) | (
        pos.astype(np.uint64) << np.uint64(1)) | np.uint64(1)
    if level == MAX_LEVEL:
        return leaf.view(np.int64).copy()
    return parent_id_np(leaf.view(np.int64), level)


def parent_id_np(cell_id, level: int) -> np.ndarray:
    """Ancestor of (leaf or deeper) ``cell_id`` at ``level``: clear the
    sub-cell bits, set the level's trailing-1 sentinel."""
    cid = np.asarray(cell_id, dtype=np.int64)
    lsb = np.int64(1) << np.int64(2 * (MAX_LEVEL - level))
    return (cid & -(lsb << 1)) | lsb

