"""The zone rules of zones/pip.py against the brute rules they replace:
``rects_inside`` ≡ "all four corners inside and no edge touches" and ≡ the
centre's ray cast on rects no edge touches; ``first_zone``, alone or fed
the cell index's masks, ≡ a first-match ray cast over every ring with no
prefilter."""

from __future__ import annotations

import numpy as np
import pytest

from routers_spark.functions.geo import edges_hit_rects, point_in_polygon_np
from routers_spark.zones import pip
from routers_spark.zones.cells import build_zone_index, cell_first_zone
from routers_spark.zones.pip import first_zone, rects_inside, zone_rings
from tests.test_zone_cells import ZONES

RINGS = zone_rings(ZONES)


def _rects(rx, ry, rng, n=20000):
    """Seeded random rects over the ring's bbox, then rects whose sides
    are snapped to ring vertex coordinates (and point rects on vertices)."""
    x0, y0, x1, y1 = rx.min() - 0.02, ry.min() - 0.02, rx.max() + 0.02, ry.max() + 0.02
    ax, bx = np.sort(rng.uniform(x0, x1, (2, n)), axis=0)
    ay, by = np.sort(rng.uniform(y0, y1, (2, n)), axis=0)
    sx, tx = np.sort(rng.choice(rx, (2, n)), axis=0)
    sy, ty = np.sort(rng.choice(ry, (2, n)), axis=0)
    vi = rng.integers(0, len(rx), n)
    return (np.concatenate([ax, sx, rx[vi]]), np.concatenate([ay, sy, ry[vi]]),
            np.concatenate([bx, tx, rx[vi]]), np.concatenate([by, ty, ry[vi]]))


@pytest.mark.parametrize("k", range(len(RINGS)), ids=[r[0] for r in RINGS])
def test_rects_inside_matches_brute_rules(k):
    _, rx, ry, _ = RINGS[k]
    x0, y0, x1, y1 = _rects(rx, ry, np.random.default_rng(31 + k))
    crossed, inside = rects_inside(rx, ry, x0, y0, x1, y1)
    touched = edges_hit_rects(rx, ry, np.roll(rx, -1), np.roll(ry, -1),
                              x0, y0, x1, y1)
    corners = np.stack([point_in_polygon_np(cx, cy, rx, ry) for cx, cy in
                        ((x0, y0), (x0, y1), (x1, y0), (x1, y1))]).all(axis=0)
    np.testing.assert_array_equal(crossed, touched)
    np.testing.assert_array_equal(inside, corners & ~touched)
    centre = point_in_polygon_np((x0 + x1) / 2, (y0 + y1) / 2, rx, ry)
    np.testing.assert_array_equal(inside[~crossed], centre[~crossed])
    assert inside.sum() > 1000 and crossed.sum() > 1000
    assert (~crossed & ~inside).sum() > 100


def test_rects_inside_blocks_agree(monkeypatch):
    """The edge-vs-rect grid runs in blocks bounded by ``_GRID_CELLS``;
    small blocks give the same answer as one block."""
    _, rx, ry, _ = RINGS[0]
    rects = _rects(rx, ry, np.random.default_rng(41), n=3000)
    whole = rects_inside(rx, ry, *rects)
    monkeypatch.setattr(pip, "_GRID_CELLS", 7 * len(rx))
    for got, want in zip(rects_inside(rx, ry, *rects), whole):
        np.testing.assert_array_equal(got, want)


def test_rects_inside_scalar_and_empty():
    _, rx, ry, _ = RINGS[1]  # the box zone
    crossed, inside = rects_inside(rx, ry, -118.25, 33.85, -118.2, 33.9)
    assert crossed.tolist() == [False] and inside.tolist() == [True]
    crossed, inside = rects_inside(rx, ry, *([np.empty(0)] * 4))
    assert crossed.shape == inside.shape == (0,)


def _brute_first(px, py, rings):
    zone = np.full(len(px), -1)
    for k, (_, rx, ry, _) in enumerate(rings):
        hit = (zone < 0) & point_in_polygon_np(px, py, rx, ry)
        zone[hit] = k
    return zone


def _beside_edges(rng, per_edge=400):
    """Points on, and within ~1e-9..1e-4 of, every ring edge and vertex."""
    xs, ys = [], []
    for _, rx, ry, _ in RINGS:
        sx, sy = np.roll(rx, -1), np.roll(ry, -1)
        f = rng.random((per_edge, 1))
        f[:40] = 0.0  # exactly on the vertices
        scale = 10.0 ** rng.integers(-9, -3, (per_edge, 1))
        xs.append((rx + f * (sx - rx) + scale * rng.normal(size=f.shape)).ravel())
        ys.append((ry + f * (sy - ry) + scale * rng.normal(size=f.shape)).ravel())
        xs.append((rx + f * (sx - rx)).ravel())
        ys.append((ry + f * (sy - ry)).ravel())
    return np.concatenate(xs), np.concatenate(ys)


def test_first_zone_equals_brute_beside_edges():
    px, py = _beside_edges(np.random.default_rng(37))
    want = _brute_first(px, py, RINGS)
    assert set(want) == {-1, 0, 1, 2}
    np.testing.assert_array_equal(first_zone(px, py, RINGS), want)
    everywhere = np.ones((len(px), len(RINGS)), dtype=bool)
    np.testing.assert_array_equal(
        first_zone(px, py, RINGS, maybe=everywhere), want)


SQ_A = {"zone_id": "a", "ring": [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]}
SQ_B = {"zone_id": "b", "ring": [(5.0, 5.0), (15.0, 5.0), (15.0, 15.0), (5.0, 15.0)]}


def test_first_zone_list_order_settles_overlaps():
    px, py = np.array([7.0, 2.0, 12.0]), np.array([7.0, 2.0, 12.0])
    assert first_zone(px, py, zone_rings([SQ_A, SQ_B])).tolist() == [0, 0, 1]
    assert first_zone(px, py, zone_rings([SQ_B, SQ_A])).tolist() == [0, 1, 0]


def test_first_zone_direct_wins_before_any_ray_cast():
    rings = zone_rings([SQ_A, SQ_B])
    # far outside both rings: only the direct mask can place these points
    px, py = np.array([50.0, 50.0, 7.0, 7.0]), np.array([50.0, 50.0, 7.0, 7.0])
    direct = np.array([[False, True], [True, True],
                       [False, True], [False, False]])
    # maybe masks out every ray cast; direct still assigns
    nothing = np.zeros_like(direct)
    assert first_zone(px, py, rings, direct=direct,
                      maybe=nothing).tolist() == [1, 0, 1, -1]
    # an earlier zone's ray cast still beats a later zone's direct hit
    assert first_zone(px, py, rings, direct=direct).tolist() == [1, 0, 0, 0]


def test_first_zone_no_zone_and_nan_get_minus_one():
    rings = zone_rings([SQ_A, SQ_B])
    px = np.array([np.nan, 3.0, -1.0, 20.0, np.nan])
    py = np.array([3.0, np.nan, -1.0, 20.0, np.nan])
    assert first_zone(px, py, rings).tolist() == [-1] * 5
    assert first_zone([], [], rings).tolist() == []
    assert first_zone([3.0], [3.0], []).tolist() == [-1]


def test_cell_index_equals_brute_and_skips_non_finite():
    """``cell_first_zone`` (cell masks into ``first_zone``) ≡ the brute
    first match on random and edge-hugging points. A NaN or infinite point
    gets -1 even when a zone's interior covers the cell its garbage
    quadkey would name (the world's south-west corner)."""
    rng = np.random.default_rng(43)
    ex, ey = _beside_edges(rng)
    px = np.concatenate([ex, rng.uniform(-118.7, -118.0, 20000)])
    py = np.concatenate([ey, rng.uniform(33.6, 34.1, 20000)])
    got = cell_first_zone(build_zone_index(ZONES), px, py)
    np.testing.assert_array_equal(got, _brute_first(px, py, RINGS))
    corner = {"zone_id": "sw", "ring": [(-181.0, -91.0), (-100.0, -91.0),
                                        (-100.0, -10.0), (-181.0, -10.0)]}
    px = np.array([np.nan, np.nan, -np.inf, 0.0, -150.0])
    py = np.array([np.nan, 0.0, -np.inf, np.nan, -50.0])
    got = cell_first_zone(build_zone_index([corner]), px, py)
    assert got.tolist() == [-1, -1, -1, -1, 0]
