"""P6: the 9-cell sliding shard window (ShardWindow::recenter analog).

The reference's realtime matcher keeps the shard for the vehicle's current
cell plus its 8 neighbours loaded; when an observation lands in a new cell
the window recenters and reports the delta — which shards to fetch
(``scoped``) and which to evict (``unscoped``)
(libs/routers_shard/src/loader/window.rs:90-113 recenter, 115-128 delta).

No matcher in the package calls these functions. Batch Spark covers
shard seams with padding and cell cogroups (shard/partition.py), and the
streaming matcher holds one whole graph per epoch: its per-vehicle state
carries no window centre, and a graph swap is a published epoch
(streaming/epoch.py), not a window delta. This module keeps the window
arithmetic, tested on its own, for a matcher that loads shards by cell.

Pure deterministic functions over geohash cells (the reference's default
sharding strategy); neighbours use the same 8-probe re-encode trick as
strategy/geohash.rs:168-204 (offset the decoded cell center by one cell
size in each compass direction, re-encode, dedup).
"""

from __future__ import annotations

from routers_spark.functions.cells import (
    geohash_bounds,
    geohash_subdivide_scalar,
)


def geohash_neighbors(gh: str) -> list[str]:
    """The ≤8 distinct neighbours of a geohash cell
    (strategy/geohash.rs:168-204): probe the 8 compass offsets of the cell
    center by one cell extent and re-encode. Cells on the antimeridian /
    pole clamp (the reference's subdivision clamps input the same way), so
    duplicates collapse via the seen-set, preserving probe order."""
    min_x, min_y, max_x, max_y = geohash_bounds(gh)
    cx, cy = 0.5 * (min_x + max_x), 0.5 * (min_y + max_y)
    dx, dy = (max_x - min_x), (max_y - min_y)
    out: list[str] = []
    for oy in (dy, 0.0, -dy):
        for ox in (-dx, 0.0, dx):
            if ox == 0.0 and oy == 0.0:
                continue
            probe = geohash_subdivide_scalar(cx + ox, cy + oy, len(gh))
            if probe != gh and probe not in out:
                out.append(probe)
    return out


def window_cells(center: str) -> list[str]:
    """The 9-cell window around ``center`` (center first, then neighbours
    in probe order) — ShardWindow's loaded set."""
    return [center, *geohash_neighbors(center)]


def recenter(center: str | None, lon: float, lat: float,
             precision: int = 4) -> dict:
    """Recenter the window on a new observation (window.rs:90-113).

    Returns ``{center, moved, scoped, unscoped}``: the new center cell,
    whether the window moved, the cells to fetch (``scoped``) and evict
    (``unscoped``) — both empty when the point stays in the current center
    (the fast path: no graph refresh for the epoch)."""
    new_center = geohash_subdivide_scalar(lon, lat, precision)
    if center == new_center:
        return {"center": center, "moved": False, "scoped": [],
                "unscoped": []}
    old = set(window_cells(center)) if center is not None else set()
    new = set(window_cells(new_center))
    return {
        "center": new_center,
        "moved": True,
        "scoped": sorted(new - old),
        "unscoped": sorted(old - new),
    }
