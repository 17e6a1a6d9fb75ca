"""Raster zonal statistics — per-zone pixel aggregates over a tiled
raster, the raster×vector join of the training-data pipeline extension
(the reference has the vector half — tz zone lookup, storage/basic.rs
ray-cast — and the tile half — T1/T7; this operator joins them the way a
geospatial pipeline aggregates imagery over admin/coverage polygons).

Semantics: vector zones are projected into the RASTER's pixel CRS once
(standard practice — rasterize the polygon in the raster grid, never
reproject every pixel), then every pixel CENTER (gx+0.5, gy+0.5) is
assigned to the FIRST zone whose ring contains it (``zones.pip.first_zone``
over the crossing-number test of functions.geo: per edge the same
left-associated IEEE expression as the _ray_cast_sql gates in queries.py);
pixels in no zone aggregate under ``'none'``. Output: one row per zone
with integer-exact count / per-band sum / min / max.

Scale shape (the point of the design):
  - one narrow ``mapInPandas`` pass over the tiles — decode + aggregate
    per tile, NO per-pixel rows ever leave the kernel;
  - tiles that touch no zone bbox, and tiles provably INTERIOR to a zone
    (``zones.pip.rects_inside``: no ring edge touches the pixel-center
    rect and one corner is inside — exact for simple polygons), or
    provably outside it, aggregate whole-tile in numpy
    with ZERO point-in-polygon tests; only boundary tiles pay the
    vectorized per-pixel ray cast. On real coverage the boundary set is
    O(perimeter), not O(area) — at 100 TB of tiles this is the
    difference between touching every pixel and touching ~sqrt of them;
  - the shuffle carries one partial row per (tile, zone) — KB-scale —
    into a map-side-combined groupBy.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from routers_spark.functions.raster import decode_image
from routers_spark.zones.pip import first_zone, rects_inside, zone_rings

ZONAL_PARTIAL_SCHEMA = (
    "zone_id string, n_px long, sum_r long, sum_g long, sum_b long, "
    "min_r long, max_r long, min_g long, max_g long, min_b long, max_b long"
)


def _band_partial(zone_id: str, arr_flat: np.ndarray) -> tuple:
    r, g, b = (arr_flat[:, c].astype(np.int64) for c in range(3))
    return (zone_id, len(arr_flat), int(r.sum()), int(g.sum()), int(b.sum()),
            int(r.min()), int(r.max()), int(g.min()), int(g.max()),
            int(b.min()), int(b.max()))


def zonal_stats(tiles_df: DataFrame, zones_px: list[tuple[str, list]],
                tile_px: int = 16, fmt: str = "png") -> DataFrame:
    """Per-zone pixel statistics over georeferenced raster tiles.

    ``tiles_df``: (tx long, ty long, tile binary) — tile image bytes keyed
    by slippy tile coords at one zoom. ``zones_px``: ordered
    [(zone_id, [(gx, gy), ...]), ...] rings in GLOBAL PIXEL coordinates
    (tile coord × tile_px); first containing zone wins per pixel.
    """
    rings = zone_rings([{"zone_id": zid, "ring": ring}
                        for zid, ring in zones_px])
    names = np.array([r[0] for r in rings] + ["none"], dtype=object)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yy, xx = np.meshgrid(np.arange(tile_px), np.arange(tile_px),
                             indexing="ij")
        xxf = xx.ravel().astype(np.float64)
        yyf = yy.ravel().astype(np.float64)
        for pdf in batches:
            rows = []
            for t in pdf.itertuples(index=False):
                arr = decode_image(bytes(t.tile), fmt)
                flat = arr.reshape(-1, arr.shape[2])
                x0 = float(t.tx) * tile_px
                y0 = float(t.ty) * tile_px
                # pixel-center bounds of this tile
                lo_x, hi_x = x0 + 0.5, x0 + tile_px - 0.5
                lo_y, hi_y = y0 + 0.5, y0 + tile_px - 0.5
                hits = [k for k, (*_, (bx0, by0, bx1, by1)) in enumerate(rings)
                        if bx0 <= hi_x and bx1 >= lo_x
                        and by0 <= hi_y and by1 >= lo_y]
                if not hits:
                    rows.append(_band_partial("none", flat))
                    continue
                # interior fast path: one candidate ring that no edge of
                # crosses the pixel-center rect -> one zone for the tile
                if len(hits) == 1:
                    _, rx, ry, _ = rings[hits[0]]
                    crossed, inside = rects_inside(rx, ry, lo_x, lo_y,
                                                   hi_x, hi_y)
                    if not crossed[0]:
                        rows.append(_band_partial(
                            names[hits[0]] if inside[0] else "none", flat))
                        continue
                # boundary tile: first-match ray cast per pixel center
                assigned = names[first_zone(x0 + 0.5 + xxf, y0 + 0.5 + yyf,
                                            rings)]
                for zid in pd.unique(assigned):
                    rows.append(_band_partial(zid, flat[assigned == zid]))
            yield pd.DataFrame(rows, columns=[
                "zone_id", "n_px", "sum_r", "sum_g", "sum_b", "min_r",
                "max_r", "min_g", "max_g", "min_b", "max_b"])

    partial = tiles_df.select("tx", "ty", "tile").mapInPandas(
        kernel, schema=ZONAL_PARTIAL_SCHEMA)
    return partial.groupBy("zone_id").agg(
        F.sum("n_px").alias("n_px"),
        F.sum("sum_r").alias("sum_r"),
        F.sum("sum_g").alias("sum_g"),
        F.sum("sum_b").alias("sum_b"),
        F.min("min_r").alias("min_r"), F.max("max_r").alias("max_r"),
        F.min("min_g").alias("min_g"), F.max("max_g").alias("max_g"),
        F.min("min_b").alias("min_b"), F.max("max_b").alias("max_b"),
    )
