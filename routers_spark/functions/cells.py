"""Spatial cell encoders — numpy twins of the SQL generators in sqlgen.py.

Used inside pandas UDFs (fixture generation, matcher kernels) and as the
cross-check oracle for the JVM-side expressions. All encoders follow the
reference's binary-subdivision semantics (clamp into the world rect, then
half-open subdivision with ``p >= mid`` descending):

  - geohash:  libs/routers_shard/src/strategy/geohash.rs:88-137
  - quadkey:  libs/routers_shard/src/strategy/quadtree.rs:88-123
  - hilbert:  libs/routers_tiles/src/primitives/fragment.rs:69-71

A point with a non-finite coordinate (NaN or ±inf) lies in no cell: the
integer encoders give it -1 and ``geohash_str_np`` gives it ``None``.
"""

from __future__ import annotations

import numpy as np

_GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"

_SPREAD_STEPS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _grid_index(frac: np.ndarray, bits: int) -> np.ndarray:
    """Cell index of each fraction; a non-finite one takes 0, to be masked
    by the caller through ``_no_cell``."""
    frac = np.clip(np.where(np.isfinite(frac), frac, 0.0), 0.0,
                   np.nextafter(1.0, 0.0))
    return np.floor(frac * float(1 << bits)).astype(np.int64)


def _no_cell(lon, lat) -> np.ndarray:
    """True where a point has a non-finite coordinate."""
    return ~(np.isfinite(np.asarray(lon, dtype=np.float64))
             & np.isfinite(np.asarray(lat, dtype=np.float64)))


def _masked(cell, lon, lat):
    """``cell`` with -1 for the points in no cell."""
    none = _no_cell(lon, lat)
    return np.where(none, -1, cell) if none.any() else cell


def _spread(v: np.ndarray) -> np.ndarray:
    x = v.astype(np.uint64)
    for shift, mask in _SPREAD_STEPS:
        x = (x | (x << np.uint64(shift))) & np.uint64(mask)
    return x


def _interleave(xi: np.ndarray, yi: np.ndarray, y_low: bool) -> np.ndarray:
    sx, sy = _spread(xi), _spread(yi)
    if y_low:
        return (sy | (sx << np.uint64(1))).astype(np.int64)
    return (sx | (sy << np.uint64(1))).astype(np.int64)


def lon_frac(lon) -> np.ndarray:
    return (np.asarray(lon, dtype=np.float64) + 180.0) / 360.0


def lat_frac(lat) -> np.ndarray:
    return (np.asarray(lat, dtype=np.float64) + 90.0) / 180.0


def _bit_reverse32(v: np.ndarray, bits: int) -> np.ndarray:
    """Reverse the low ``bits`` (<= 32) bits of v."""
    x = v.astype(np.uint64)
    x = ((x >> np.uint64(1)) & np.uint64(0x55555555)) | ((x & np.uint64(0x55555555)) << np.uint64(1))
    x = ((x >> np.uint64(2)) & np.uint64(0x33333333)) | ((x & np.uint64(0x33333333)) << np.uint64(2))
    x = ((x >> np.uint64(4)) & np.uint64(0x0F0F0F0F)) | ((x & np.uint64(0x0F0F0F0F)) << np.uint64(4))
    x = ((x >> np.uint64(8)) & np.uint64(0x00FF00FF)) | ((x & np.uint64(0x00FF00FF)) << np.uint64(8))
    x = ((x >> np.uint64(16)) & np.uint64(0x0000FFFF)) | ((x & np.uint64(0x0000FFFF)) << np.uint64(16))
    return x >> np.uint64(32 - bits)


def quadkey_np(lon, lat, depth: int) -> np.ndarray:
    """QuadKey bits: 2 bits/level, level 0 (the COARSEST subdivision) in the
    LOW bits, q = north << 1 | east (strategy/quadtree.rs:88-123). The
    closed form bit-reverses each grid index (level 0 = index MSB) before
    interleaving with east in the low lane."""
    xi = _grid_index(lon_frac(lon), depth)
    yi = _grid_index(lat_frac(lat), depth)
    xr = _bit_reverse32(xi, depth)
    yr = _bit_reverse32(yi, depth)
    return _masked(_interleave(xr, yr, y_low=False), lon, lat)


def geohash_int_np(lon, lat, precision: int) -> np.ndarray:
    """Geohash bit content as int64 (5*precision bits, lon first from MSB).
    The last bit is lat's for an even total and lon's for an odd one, so
    lat takes the low lane of the interleave exactly when the total is
    even."""
    total = 5 * precision
    xi = _grid_index(lon_frac(lon), (total + 1) // 2)
    yi = _grid_index(lat_frac(lat), total // 2)
    return _masked(_interleave(xi, yi, y_low=total % 2 == 0), lon, lat)


def geohash_str_np(lon, lat, precision: int) -> np.ndarray:
    """Base-32 geohash strings (vectorized lookup); an object array with
    ``None`` for the points in no cell, when there are any."""
    gi = geohash_int_np(lon, lat, precision)
    none = (np.asarray(gi) < 0).ravel()
    gi = gi.astype(np.uint64)
    chars = np.frombuffer(_GEOHASH_B32.encode(), dtype=np.uint8)
    cols = []
    for c in range(precision):
        shift = np.uint64(5 * (precision - 1 - c))
        cols.append(chars[((gi >> shift) & np.uint64(31)).astype(np.int64)])
    stacked = np.stack(cols, axis=-1)
    out = stacked.view(f"S{precision}").ravel().astype(str)
    if none.any():
        out = out.astype(object)
        out[none] = None
    return out


def geohash_subdivide_scalar(lon: float, lat: float, precision: int) -> str:
    """Literal port of the reference's subdivision loop
    (strategy/geohash.rs:88-137) — the test oracle for geohash_str_np."""
    min_x, max_x, min_y, max_y = -180.0, 180.0, -90.0, 90.0
    px = min(max(lon, min_x), max_x)
    py = min(max(lat, min_y), max_y)
    out, bit, ch, even = [], 0, 0, True
    while len(out) < precision:
        if even:
            mid = 0.5 * (min_x + max_x)
            if px >= mid:
                ch |= 1 << (4 - bit)
                min_x = mid
            else:
                max_x = mid
        else:
            mid = 0.5 * (min_y + max_y)
            if py >= mid:
                ch |= 1 << (4 - bit)
                min_y = mid
            else:
                max_y = mid
        even = not even
        if bit < 4:
            bit += 1
        else:
            out.append(_GEOHASH_B32[ch])
            bit, ch = 0, 0
    return "".join(out)


def geohash_bounds(gh: str) -> tuple[float, float, float, float]:
    """Decode a geohash to (min_lon, min_lat, max_lon, max_lat)
    (strategy/geohash.rs:139-166)."""
    min_x, max_x, min_y, max_y = -180.0, 180.0, -90.0, 90.0
    even = True
    for c in gh:
        idx = _GEOHASH_B32.index(c)
        for i in range(4, -1, -1):
            bit = (idx >> i) & 1
            if even:
                mid = 0.5 * (min_x + max_x)
                if bit:
                    min_x = mid
                else:
                    max_x = mid
            else:
                mid = 0.5 * (min_y + max_y)
                if bit:
                    min_y = mid
                else:
                    max_y = mid
            even = not even
    return min_x, min_y, max_x, max_y


def hilbert_xy2h_np(x, y, order: int) -> np.ndarray:
    """Hilbert index of (x, y) at ``order`` bits per axis — classic xy2d
    rotation loop, vectorized. Twin of sqlgen.hilbert_xy2h_cte_sql; stands in
    for fast_hilbert::xy2h (fragment.rs:69-71) as the tile-table sort key,
    and at order 30 is the S2 leaf position fold (s2.hilbert_pos_np)."""
    hx = np.asarray(x, dtype=np.int64).copy()
    hy = np.asarray(y, dtype=np.int64).copy()
    d = np.zeros_like(hx, dtype=np.int64)
    s = 1 << (order - 1)
    while s > 0:
        rx = ((hx & s) > 0).astype(np.int64)
        ry = ((hy & s) > 0).astype(np.int64)
        d += s * np.int64(s) * ((3 * rx) ^ ry)
        # rotate
        swap = ry == 0
        flip = swap & (rx == 1)
        hx_f = np.where(flip, s - 1 - hx, hx)
        hy_f = np.where(flip, s - 1 - hy, hy)
        hx, hy = np.where(swap, hy_f, hx_f), np.where(swap, hx_f, hy_f)
        s >>= 1
    return d


def slippy_xy_np(lon, lat, zoom: int) -> tuple[np.ndarray, np.ndarray]:
    """Slippy tile x/y (floored) at ``zoom`` — the reference projection with
    its literal 0.0174533 deg→rad factor (libs/routers_geo/src/project.rs:49-71)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n = float(1 << zoom)
    x = n * ((lon + 180.0) / 360.0)
    rad = lat * 0.0174533
    y = n * (1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / np.pi) / 2.0
    return np.floor(x).astype(np.int64), np.floor(y).astype(np.int64)


def slippy_offsets_np(lon, lat, zoom: int, extent: int = 4096):
    """In-tile offsets scaled by the MVT extent (project.rs:53-57)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n = float(1 << zoom)
    x = n * ((lon + 180.0) / 360.0)
    rad = lat * 0.0174533
    y = n * (1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / np.pi) / 2.0
    xo = (float(extent) * (x - np.floor(x))).astype(np.int64)
    yo = (float(extent) * (y - np.floor(y))).astype(np.int64)
    return xo, yo
