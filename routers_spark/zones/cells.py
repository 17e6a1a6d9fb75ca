"""Cell-covering zone lookup — the S2-cell timezone backend analog.

The reference's scale backend precomputes an S2 covering per zone (levels
1–13, RegionCoverer — libs/routers_tz/build/impl/s2cell.rs:13-15,70-99) and
answers queries by walking the point's leaf cell up through its parents
with a binary search over ONE sorted cell array
(libs/routers_tz/src/storage/s2cell.rs:38-56). Here the covering is a
quadtree (the engine's quadkey cells, strategy/quadtree.rs bit layout) and
the query is 13 vectorized searchsorted passes over Arrow batches — no
per-polygon scan of every point.

Exactness: covering cells fully inside a ring assign directly; boundary
cells fall back to the vectorized ray-cast against that one ring, so the
result is byte-identical to the brute backend (zones/pip.py) while only
boundary points pay the PIP cost. Zones broadcast as sorted arrays; points
stream with no shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from routers_spark.functions.cells import quadkey_np
from routers_spark.functions.geo import edges_hit_rects, point_in_polygon_np
from routers_spark.functions.ragged import ragged_within

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
    point of the polygon is inside some emitted cell."""
    rx = np.asarray(rx, dtype=np.float64)
    ry = np.asarray(ry, dtype=np.float64)
    sx = np.roll(rx, -1)
    sy = np.roll(ry, -1)
    keys: list[int] = []
    interior: list[bool] = []
    stack = [(0, 0, 0)]
    while stack:
        lvl, xi, yi = stack.pop()
        w = 360.0 / (1 << lvl)
        h = 180.0 / (1 << lvl)
        x0 = -180.0 + xi * w
        y0 = -90.0 + yi * h
        x1, y1 = x0 + w, y0 + h
        crossed = edges_hit_rects(rx, ry, sx, sy, np.array([x0]),
                                  np.array([y0]), np.array([x1]),
                                  np.array([y1]))[0]
        if not crossed:
            cx, cy = 0.5 * (x0 + x1), 0.5 * (y0 + y1)
            inside = bool(point_in_polygon_np([cx], [cy], rx, ry)[0])
            if not inside:
                continue  # rect entirely outside
            if lvl >= ZONE_MIN_LEVEL:
                keys.append(int(_pack(lvl, _grid_quadkey(
                    np.array([xi]), np.array([yi]), lvl))[0]))
                interior.append(True)
                continue
        if lvl >= ZONE_MAX_LEVEL:
            if crossed:
                keys.append(int(_pack(lvl, _grid_quadkey(
                    np.array([xi]), np.array([yi]), lvl))[0]))
                interior.append(False)
            continue
        for dx2 in (0, 1):
            for dy2 in (0, 1):
                stack.append((lvl + 1, xi * 2 + dx2, yi * 2 + dy2))
    return (np.asarray(keys, dtype=np.int64),
            np.asarray(interior, dtype=bool))


def build_zone_index(zones: list[dict]):
    """One sorted cell array across all zones (the S2StorageBackend shape:
    cell_ids + tz_indices, build/impl/s2cell.rs:107-113): returns
    (keys, zone_idx, interior, rings)."""
    all_keys, all_zidx, all_int = [], [], []
    rings = []
    for zi, z in enumerate(zones):
        rx = np.array([p[0] for p in z["ring"]], dtype=np.float64)
        ry = np.array([p[1] for p in z["ring"]], dtype=np.float64)
        rings.append((z["zone_id"], rx, ry))
        k, it = cover_ring(rx, ry)
        all_keys.append(k)
        all_zidx.append(np.full(len(k), zi, dtype=np.int64))
        all_int.append(it)
    keys = np.concatenate(all_keys) if all_keys else np.empty(0, np.int64)
    zidx = np.concatenate(all_zidx) if all_zidx else np.empty(0, np.int64)
    intr = np.concatenate(all_int) if all_int else np.empty(0, bool)
    order = np.argsort(keys, kind="stable")
    return keys[order], zidx[order], intr[order], rings


def resolve_zone_candidates(px: np.ndarray, py: np.ndarray,
                            cand: np.ndarray, cand_int: np.ndarray,
                            rings: list) -> np.ndarray:
    """Winner resolution over the cell index's candidates: interior
    candidates assign directly, boundary candidates ray-cast against that
    one ring; first zone in list order wins; no match -> None.
    Byte-identical to zones.pip.assign_zones."""
    n = len(px)
    zone = np.full(n, None, dtype=object)
    unassigned = np.ones(n, dtype=bool)
    for zi, (zid, rx, ry) in enumerate(rings):
        direct = unassigned & cand_int[:, zi]
        zone[direct] = zid
        unassigned[direct] = False
        border = unassigned & cand[:, zi]
        if border.any():
            inside = point_in_polygon_np(px[border], py[border], rx, ry)
            hit = np.flatnonzero(border)[inside]
            zone[hit] = zid
            unassigned[hit] = False
    return zone


def assign_zones_cells(points_df: DataFrame, zones: list[dict],
                       lon: str = "lon", lat: str = "lat",
                       keep: list[str] | None = None) -> DataFrame:
    """Zone assignment via the cell index: per level (max..min, the leaf→
    parent walk of storage/s2cell.rs:42-49) one vectorized searchsorted
    finds candidate (point, zone) hits; interior hits assign directly,
    boundary hits ray-cast against that single ring. First matching zone in
    list order wins; no match → NULL — byte-identical to
    zones.pip.assign_zones."""
    keep = keep or [c for c in points_df.columns if c not in (lon, lat)]
    keys, zidx, intr, rings = build_zone_index(zones)
    n_zones = len(rings)
    out_fields = [f for f in points_df.schema.fields if f.name in keep + [lon, lat]]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out_fields)
    schema += ", zone_id string"

    spark = points_df.sparkSession
    bidx = spark.sparkContext.broadcast((keys, zidx, intr, rings))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        keys_, zidx_, intr_, rings_ = bidx.value
        for pdf in batches:
            px = pdf[lon].values.astype(np.float64)
            py = pdf[lat].values.astype(np.float64)
            n = len(pdf)
            # candidate (zone, interior) bitsets per point
            cand = np.zeros((n, n_zones), dtype=bool)
            cand_int = np.zeros((n, n_zones), dtype=bool)
            for lvl in range(ZONE_MAX_LEVEL, ZONE_MIN_LEVEL - 1, -1):
                pk = _pack(lvl, quadkey_np(px, py, lvl))
                lo = np.searchsorted(keys_, pk, side="left")
                hi = np.searchsorted(keys_, pk, side="right")
                cnt = hi - lo
                if not cnt.any():
                    continue
                rep = np.repeat(np.arange(n), cnt)
                pos = ragged_within(cnt) + np.repeat(lo, cnt)
                cand[rep, zidx_[pos]] = True
                cand_int[rep, zidx_[pos]] |= intr_[pos]
            zone = resolve_zone_candidates(px, py, cand, cand_int, rings_)
            out = pdf[[f.name for f in out_fields]].copy()
            out["zone_id"] = zone
            yield out

    return points_df.mapInPandas(run, schema=schema)
