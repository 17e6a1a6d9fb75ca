"""Cell-covering zone lookup — the S2-cell timezone backend analog.

The reference's scale backend precomputes an S2 covering per zone (levels
1–13, RegionCoverer — libs/routers_tz/build/impl/s2cell.rs:13-15,70-99) and
answers queries by walking the point's leaf cell up through its parents
with a binary search over ONE sorted cell array
(libs/routers_tz/src/storage/s2cell.rs:38-56). Here the covering is a
quadtree (the engine's quadkey cells, strategy/quadtree.rs bit layout) and
the query is 13 vectorized searchsorted passes over Arrow batches — no
per-polygon scan of every point.

Exactness: the covering classifies cells with ``zones.pip.rects_inside``;
a point's interior cells become ``first_zone``'s ``direct`` mask and its
boundary cells its ``maybe`` mask, so the answer is the brute backend's
(zones/pip.py) first match while only boundary points pay the ray cast.
Zones broadcast as sorted arrays; points stream with no shuffle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from routers_spark.functions.cells import quadkey_np
from routers_spark.functions.ragged import ragged_within
from routers_spark.zones.pip import (
    first_zone,
    rects_inside,
    with_zone_id,
    zone_rings,
)

# mirror the tz build constants (build/impl/s2cell.rs:13-14)
ZONE_MIN_LEVEL = 1
ZONE_MAX_LEVEL = 13

_LEVEL_SHIFT = np.uint64(52)


def _pack(level: int, bits) -> np.ndarray:
    """(level, quadkey bits) → one orderable int64 (level in the high bits,
    like S2's level-embedding cell ids)."""
    return ((np.uint64(level) << _LEVEL_SHIFT)
            | np.asarray(bits, dtype=np.uint64)).astype(np.int64)


def _grid_quadkey(xi: np.ndarray, yi: np.ndarray, depth: int) -> np.ndarray:
    """Quadkey bits of grid cell (xi east, yi north) at ``depth`` — the same
    closed form as quadkey_np (level 0 in the LOW bits, q = north<<1|east)."""
    from routers_spark.functions.cells import _bit_reverse32, _interleave

    xr = _bit_reverse32(np.asarray(xi, dtype=np.uint64), depth)
    yr = _bit_reverse32(np.asarray(yi, dtype=np.uint64), depth)
    return _interleave(xr, yr, y_low=False)


def cover_ring(rx: np.ndarray, ry: np.ndarray):
    """Quadtree covering of one polygon ring: (packed_keys int64,
    interior bool). Interior cells lie fully inside the ring; boundary
    cells (emitted at ZONE_MAX_LEVEL) intersect its edges. Complete: every
    point of the polygon is inside some emitted cell. One
    :func:`rects_inside` pass per level over that level's open cells."""
    keys, interior = [], []
    xi = yi = np.zeros(1, dtype=np.int64)
    for lvl in range(ZONE_MAX_LEVEL + 1):
        w, h = 360.0 / (1 << lvl), 180.0 / (1 << lvl)
        x0, y0 = -180.0 + xi * w, -90.0 + yi * h
        crossed, inside = rects_inside(rx, ry, x0, y0, x0 + w, y0 + h)
        # interior cells stop from the min level on, boundary cells at the max
        done = ((inside & (lvl >= ZONE_MIN_LEVEL))
                | (crossed & (lvl == ZONE_MAX_LEVEL)))
        keys.append(_pack(lvl, _grid_quadkey(xi[done], yi[done], lvl)))
        interior.append(inside[done])
        split = (crossed | inside) & ~done
        xi = (2 * xi[split, None] + [0, 0, 1, 1]).ravel()
        yi = (2 * yi[split, None] + [0, 1, 0, 1]).ravel()
    return np.concatenate(keys), np.concatenate(interior)


def build_zone_index(zones: list[dict]):
    """One sorted cell array across all zones (the S2StorageBackend shape:
    cell_ids + tz_indices, build/impl/s2cell.rs:107-113): returns
    (keys, zone_idx, interior, rings), ``rings`` as ``zone_rings``."""
    rings = zone_rings(zones)
    covers = [cover_ring(rx, ry) for _, rx, ry, _ in rings]
    keys = np.concatenate([np.empty(0, np.int64)] + [k for k, _ in covers])
    zidx = np.repeat(np.arange(len(covers), dtype=np.int64),
                     [len(k) for k, _ in covers])
    intr = np.concatenate([np.empty(0, bool)] + [i for _, i in covers])
    order = np.argsort(keys, kind="stable")
    return keys[order], zidx[order], intr[order], rings


def cell_first_zone(index, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """``first_zone`` through the cell index of :func:`build_zone_index`:
    per level (max..min, the leaf→parent walk of storage/s2cell.rs:42-49)
    one vectorized searchsorted finds each point's (zone, interior) cells;
    interior cells are direct hits, boundary cells ray-cast candidates. A
    NaN or infinite point has no cell (its quadkey would be garbage)."""
    keys, zidx, intr, rings = index
    finite = np.isfinite(px) & np.isfinite(py)
    qx, qy = np.where(finite, px, 0.0), np.where(finite, py, 0.0)
    cand = np.zeros((len(px), len(rings)), dtype=bool)
    cand_int = np.zeros_like(cand)
    for lvl in range(ZONE_MAX_LEVEL, ZONE_MIN_LEVEL - 1, -1):
        pk = _pack(lvl, quadkey_np(qx, qy, lvl))
        lo = np.searchsorted(keys, pk, side="left")
        cnt = np.where(finite, np.searchsorted(keys, pk, side="right") - lo, 0)
        if not cnt.any():
            continue
        rep = np.repeat(np.arange(len(px)), cnt)
        pos = ragged_within(cnt) + np.repeat(lo, cnt)
        cand[rep, zidx[pos]] = True
        cand_int[rep, zidx[pos]] |= intr[pos]
    return first_zone(px, py, rings, direct=cand_int, maybe=cand)


def assign_zones_cells(points_df: DataFrame, zones: list[dict],
                       lon: str = "lon", lat: str = "lat",
                       keep: list[str] | None = None) -> DataFrame:
    """Zone assignment via the cell index (:func:`cell_first_zone`, the
    index broadcast once). First matching zone in list order wins; no
    match → NULL — byte-identical to zones.pip.assign_zones."""
    bidx = points_df.sparkSession.sparkContext.broadcast(
        build_zone_index(zones))
    return with_zone_id(points_df, zones, lon, lat, keep,
                        lambda px, py: cell_first_zone(bidx.value, px, py))
