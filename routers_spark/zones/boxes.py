"""Zone lookup for BOUNDING-BOX and POLYGON requests — the remaining
TimezoneService RPCs (GetFromBoundingBox/GetFromPolygon + batch forms,
schema/proto/routers/api/timezone/v1/service.proto:7-24) as DataFrame
functions.

The reference ships THREE resolver backends with different rect semantics
(libs/routers_tz/src/storage/):
  - ``basic``  — every zone whose geometry CONTAINS the whole rect
    (basic.rs:31-50, geo::Contains);
  - ``rtree``/``s2cell`` — the zone of the rect's CENTER point
    (rtree.rs:30-47 1-NN of center; s2cell.rs:38-58 cell of center).
Polygon requests resolve via the polygon's BOUNDING RECT (the
TimezoneResolver default impl, interface.rs:10-15).

Both semantics are offered (``method="contains" | "center"``). Zones
broadcast (tz tables are dimension-sized); requests stream through one
Arrow pass, no shuffle. Both run on the zone rules of ``zones.pip``:
``center`` is ``first_zone`` on the rect centres; ``contains`` keeps the
rects the zone bbox covers and ``rects_inside`` calls inside (no ring
edge touches the rect and one corner is inside — exact for simple
rings)."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from routers_spark.zones.pip import first_zone, rects_inside, zone_rings

BOX_COLS = ("min_lon", "min_lat", "max_lon", "max_lat")


def zones_for_boxes(boxes_df: DataFrame, zones: list[dict],
                    method: str = "contains",
                    keep: list[str] | None = None) -> DataFrame:
    """GetFromBoundingBox / BatchGetFromBoundingBox: requests
    (…, min_lon, min_lat, max_lon, max_lat) → one row per (request,
    matching zone); requests matching nothing emit one NULL-zone row (the
    reference maps that to NotFound). ``method="contains"`` is the basic
    backend; ``method="center"`` the rtree/s2cell center resolution —
    degenerate (point) rects make both collapse to point-in-polygon,
    which is how GetFromPoint routes through the same search."""
    assert method in ("contains", "center")
    keep = keep or [c for c in boxes_df.columns if c not in BOX_COLS]
    rings = zone_rings(zones)
    names = np.array([r[0] for r in rings] + [None], dtype=object)
    out_fields = [f for f in boxes_df.schema.fields
                  if f.name in list(keep) + list(BOX_COLS)]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in out_fields) + ", zone_id string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            x0, y0, x1, y1 = (pdf[c].values.astype(np.float64)
                              for c in BOX_COLS)
            # (request, zone index) match pairs, whole-array numpy per zone
            if method == "center":
                req = np.arange(len(pdf))
                zi = first_zone((x0 + x1) / 2.0, (y0 + y1) / 2.0, rings)
            else:
                req_l, zi_l = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
                for k, (_, rx, ry, (zx0, zy0, zx1, zy1)) in enumerate(rings):
                    # the zone bbox must cover the rect at all
                    cand = np.flatnonzero((x0 >= zx0) & (x1 <= zx1)
                                          & (y0 >= zy0) & (y1 <= zy1))
                    hit = cand[rects_inside(rx, ry, x0[cand], y0[cand],
                                            x1[cand], y1[cand])[1]]
                    req_l.append(hit)
                    zi_l.append(np.full(len(hit), k, dtype=np.int64))
                req, zi = np.concatenate(req_l), np.concatenate(zi_l)
            # requests matching nothing emit one NULL-zone row (zone -1)
            nomatch = np.flatnonzero(np.bincount(req, minlength=len(pdf)) == 0)
            req = np.concatenate([req, nomatch])
            zi = np.concatenate([zi, np.full(len(nomatch), -1)])
            # original ordering: by request, then zone declaration order
            order = np.lexsort((zi, req))
            out = pdf[[f.name for f in out_fields]].iloc[req[order]] \
                .reset_index(drop=True)
            out["zone_id"] = names[zi[order]]
            yield out

    return boxes_df.mapInPandas(run, schema=schema)


def zones_for_polygons(polys_df: DataFrame, zones: list[dict],
                       method: str = "contains",
                       ring_col: str = "ring",
                       keep: list[str] | None = None) -> DataFrame:
    """GetFromPolygon / BatchGetFromPolygon: the reference resolves a
    polygon request via its BOUNDING RECT (TimezoneResolver::search_polygon
    default, interface.rs:10-15) — compute each request ring's bbox in the
    same Arrow pass and run the rect search. ``ring_col``: array of
    [lon, lat] pairs."""
    from pyspark.sql import functions as F

    boxed = polys_df.select(
        "*",
        F.array_min(F.transform(ring_col, lambda p: p[0])).alias("min_lon"),
        F.array_min(F.transform(ring_col, lambda p: p[1])).alias("min_lat"),
        F.array_max(F.transform(ring_col, lambda p: p[0])).alias("max_lon"),
        F.array_max(F.transform(ring_col, lambda p: p[1])).alias("max_lat"),
    ).drop(ring_col)
    keep = keep or [c for c in polys_df.columns if c != ring_col]
    return zones_for_boxes(boxed, zones, method=method, keep=keep)
