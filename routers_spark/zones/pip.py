"""Zone rules, written once for every zone path, and the brute backend.

The reference answers a zone lookup with the first geometry that contains
the point (libs/routers_tz/src/storage/basic.rs:27-41). Three rules carry
that contract to every zone operator here, built on the ray-cast and
edge-vs-rect primitives of ``functions.geo``:

  - :func:`zone_rings`: zones as numpy rings plus their bboxes;
  - :func:`first_zone`: per point, the first zone (list order) whose ring
    contains it, behind a bbox prefilter and optional cell-index masks;
  - :func:`rects_inside`: per rect, whether a ring edge crosses it and
    whether it lies wholly inside the ring (the interior/boundary split).

``zones.cells`` (cell index), ``zones.boxes`` (rect requests) and
``tiling.zonal`` (raster zonal stats) call these; :func:`assign_zones` is
the brute backend: zones captured in the task closure, points streamed
through ``mapInPandas`` with no shuffle.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from routers_spark.functions.geo import edges_hit_rects, point_in_polygon_np

# bound on the (4, n_rects, n_edges) edge-vs-rect grid of one block
_GRID_CELLS = 2_000_000


def zone_rings(zones: list[dict]) -> list[tuple]:
    """zones [{zone_id, ring: [(x, y), ...]}, ...] -> one
    (zone_id, ring_x, ring_y, (x0, y0, x1, y1)) per zone, in list order."""
    rings = []
    for z in zones:
        rx = np.array([p[0] for p in z["ring"]], dtype=np.float64)
        ry = np.array([p[1] for p in z["ring"]], dtype=np.float64)
        rings.append((z["zone_id"], rx, ry, (float(rx.min()), float(ry.min()),
                                             float(rx.max()), float(ry.max()))))
    return rings


def first_zone(px, py, rings: list[tuple], direct: np.ndarray | None = None,
               maybe: np.ndarray | None = None) -> np.ndarray:
    """Per point, the index into ``rings`` of the first zone containing it,
    or -1. A point with ``direct[:, k]`` set takes zone k with no ray cast;
    otherwise it is ray-cast against zone k when it lies in the zone's bbox
    (and, given ``maybe``, ``maybe[:, k]`` is set). NaN points get -1."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    zone = np.full(len(px), -1, dtype=np.int64)
    for k, (_, rx, ry, (x0, y0, x1, y1)) in enumerate(rings):
        free = zone < 0
        if direct is not None:
            zone[free & direct[:, k]] = k
            free &= ~direct[:, k]
        free &= (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
        if maybe is not None:
            free &= maybe[:, k]
        idx = np.flatnonzero(free)
        zone[idx[point_in_polygon_np(px[idx], py[idx], rx, ry)]] = k
    return zone


def rects_inside(rx, ry, x0, y0, x1, y1) -> tuple[np.ndarray, np.ndarray]:
    """Per closed rect: (crossed, inside). ``crossed``: some ring edge
    touches the rect. A rect no edge touches lies wholly on one side of
    the ring, so one corner's ray cast settles ``inside`` (exact for
    simple rings); a crossed rect is never inside."""
    x0, y0, x1, y1 = (np.atleast_1d(np.asarray(v, dtype=np.float64))
                      for v in (x0, y0, x1, y1))
    sx, sy = np.roll(rx, -1), np.roll(ry, -1)
    crossed = np.empty(len(x0), dtype=bool)
    blk = max(1, _GRID_CELLS // max(len(rx), 1))
    for s in range(0, len(x0), blk):
        b = slice(s, s + blk)
        crossed[b] = edges_hit_rects(rx, ry, sx, sy, x0[b], y0[b], x1[b], y1[b])
    inside = ~crossed
    idx = np.flatnonzero(inside)
    inside[idx] = point_in_polygon_np(x0[idx], y0[idx], rx, ry)
    return crossed, inside


def with_zone_id(points_df: DataFrame, zones: list[dict], lon: str, lat: str,
                 keep: list[str] | None,
                 lookup: Callable[[np.ndarray, np.ndarray], np.ndarray]
                 ) -> DataFrame:
    """``points_df``'s ``keep`` + lon/lat columns plus ``zone_id``:
    ``lookup(px, py)`` gives each point's index into ``zones`` (-1 -> NULL),
    one Arrow batch at a time."""
    keep = keep or [c for c in points_df.columns if c not in (lon, lat)]
    cols = [f for f in points_df.schema.fields if f.name in keep + [lon, lat]]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in cols)
    names = np.array([z["zone_id"] for z in zones] + [None], dtype=object)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[[f.name for f in cols]].copy()
            out["zone_id"] = names[lookup(pdf[lon].values.astype(np.float64),
                                          pdf[lat].values.astype(np.float64))]
            yield out

    return points_df.mapInPandas(run, schema=schema + ", zone_id string")


def assign_zones(points_df: DataFrame, zones: list[dict],
                 lon: str = "lon", lat: str = "lat",
                 keep: list[str] | None = None) -> DataFrame:
    """zones: [{zone_id: str, ring: [(lon, lat), ...]}, ...]. First matching
    zone wins, in zone list order (deterministic); no match → NULL — the tz
    query contract (first containing geometry, basic.rs:27-41)."""
    rings = zone_rings(zones)
    return with_zone_id(points_df, zones, lon, lat, keep,
                        lambda px, py: first_zone(px, py, rings))
