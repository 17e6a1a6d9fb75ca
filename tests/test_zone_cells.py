"""Cell-covering zone backend (zones/cells.py) ≡ brute ray-cast backend
(zones/pip.py) — the S2-cell timezone-storage analog, byte-identical by
interior-direct + boundary-refine construction; the covering itself is
complete and its interior cells are sound."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from routers_spark.functions.cells import quadkey_np
from routers_spark.functions.geo import point_in_polygon_np
from routers_spark.zones.cells import (
    ZONE_MAX_LEVEL,
    ZONE_MIN_LEVEL,
    _pack,
    assign_zones_cells,
    build_zone_index,
    cover_ring,
)
from routers_spark.zones.pip import assign_zones

ZONES = [
    {"zone_id": "hex", "ring": [
        (-118.50, 33.75), (-118.30, 33.72), (-118.20, 33.90),
        (-118.35, 33.85), (-118.40, 34.00), (-118.55, 33.95)]},
    {"zone_id": "box", "ring": [
        (-118.30, 33.80), (-118.10, 33.80), (-118.10, 33.98), (-118.30, 33.98)]},
    {"zone_id": "tri", "ring": [
        (-118.60, 33.70), (-118.45, 33.70), (-118.60, 33.85)]},
]


def _cells_hit(lon, lat, keys):
    """Per point: does any of its level-ZONE_MIN..MAX cells appear in the
    sorted packed ``keys``? (the query path's leaf-to-parent walk)"""
    hit = np.zeros(len(lon), dtype=bool)
    for lvl in range(ZONE_MIN_LEVEL, ZONE_MAX_LEVEL + 1):
        pk = _pack(lvl, quadkey_np(lon, lat, lvl))
        lo = np.searchsorted(keys, pk, side="left")
        hi = np.searchsorted(keys, pk, side="right")
        hit |= hi > lo
    return hit


def test_cover_ring_complete_and_sound():
    """Every point inside the ring lies in some covering cell (no false
    NULLs), and every point in an interior cell is inside the ring (the
    direct-assign path never mislabels)."""
    rx = np.array([p[0] for p in ZONES[0]["ring"]])
    ry = np.array([p[1] for p in ZONES[0]["ring"]])
    keys, interior = cover_ring(rx, ry)
    assert len(keys) > 4
    assert interior.any() and (~interior).any()
    rng = np.random.default_rng(23)
    lon = rng.uniform(-118.7, -118.0, 30000)
    lat = rng.uniform(33.6, 34.1, 30000)
    inside = point_in_polygon_np(lon, lat, rx, ry)
    assert _cells_hit(lon[inside], lat[inside], np.sort(keys)).all()
    in_interior = _cells_hit(lon, lat, np.sort(keys[interior]))
    assert in_interior.sum() > 1000
    assert inside[in_interior].all()


def _random_points():
    rng = np.random.default_rng(17)
    n = 4000
    return (-118.7 + rng.random(n) * 0.7, 33.65 + rng.random(n) * 0.45)


def _edge_hugging_points():
    """Points clustered tightly around every ring vertex and edge — the
    boundary-refine path under maximal stress."""
    rng = np.random.default_rng(29)
    lon_l, lat_l = [], []
    for z in ZONES:
        ring = np.array(z["ring"], dtype=np.float64)
        nxt = np.roll(ring, -1, axis=0)
        for frac in rng.random((40, len(ring))):
            p = ring + frac[:, None] * (nxt - ring)
            jit = rng.normal(0.0, 1e-4, p.shape)
            lon_l.append(p[:, 0] + jit[:, 0])
            lat_l.append(p[:, 1] + jit[:, 1])
    return np.concatenate(lon_l), np.concatenate(lat_l)


@pytest.mark.parametrize("points", [_random_points, _edge_hugging_points],
                         ids=["random", "edge_hugging"])
def test_cells_match_brute_random_points(spark, points):
    lon, lat = points()
    pts = pd.DataFrame({"pid": np.arange(len(lon)), "lon": lon, "lat": lat})
    df = spark.createDataFrame(pts)
    a = assign_zones(df, ZONES, keep=["pid"]).toPandas() \
        .sort_values("pid").reset_index(drop=True)
    b = assign_zones_cells(df, ZONES, keep=["pid"]).toPandas() \
        .sort_values("pid").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # sanity: all three zones actually matched something
    assert set(a["zone_id"].dropna()) == {"hex", "box", "tri"}


def test_interior_fast_path_used(spark):
    """Deep-inside points must resolve from interior cells (no refine):
    verified indirectly — the candidate index marks interior cells for
    points far from every ring edge."""
    keys, zidx, intr, rings = build_zone_index(ZONES)
    # a point well inside the box zone
    found_interior = False
    for lvl in range(ZONE_MAX_LEVEL, ZONE_MIN_LEVEL - 1, -1):
        pk = int(_pack(lvl, quadkey_np(np.array([-118.2]), np.array([33.9]), lvl))[0])
        lo = np.searchsorted(keys, pk, side="left")
        hi = np.searchsorted(keys, pk, side="right")
        for p in range(lo, hi):
            if intr[p] and rings[zidx[p]][0] == "box":
                found_interior = True
    assert found_interior
