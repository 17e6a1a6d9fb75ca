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
Arrow pass, no shuffle. Containment is exact for simple rings: all four
corners inside (ray cast) AND no polygon edge intersects the rect
(functions.geo.edges_hit_rects, vectorized over the edge set)."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from routers_spark.functions.geo import edges_hit_rects, point_in_polygon_np


def _prep_zones(zones: list[dict]):
    out = []
    for z in zones:
        rx = np.array([p[0] for p in z["ring"]], dtype=np.float64)
        ry = np.array([p[1] for p in z["ring"]], dtype=np.float64)
        ex0, ey0 = rx, ry
        ex1 = np.roll(rx, -1)
        ey1 = np.roll(ry, -1)
        out.append((z["zone_id"], rx, ry, ex0, ey0, ex1, ey1,
                    float(rx.min()), float(ry.min()),
                    float(rx.max()), float(ry.max())))
    return out


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
    zs = _prep_zones(zones)
    out_fields = [f for f in boxes_df.schema.fields
                  if f.name in list(keep) + list(BOX_COLS)]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in out_fields) + ", zone_id string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            x0 = pdf["min_lon"].values.astype(np.float64)
            y0 = pdf["min_lat"].values.astype(np.float64)
            x1 = pdf["max_lon"].values.astype(np.float64)
            y1 = pdf["max_lat"].values.astype(np.float64)
            # (request_idx, zone_order) match pairs, collected per zone —
            # every step below is a whole-array numpy op, no per-row Python
            pair_req: list[np.ndarray] = []
            pair_zi: list[np.ndarray] = []
            if method == "center":
                cx, cy = (x0 + x1) / 2.0, (y0 + y1) / 2.0
                unassigned = np.ones(n, dtype=bool)
                for zi, (zid, rx, ry, *_rest) in enumerate(zs):
                    cand = np.flatnonzero(unassigned)
                    if not len(cand):
                        break
                    inside = point_in_polygon_np(cx[cand], cy[cand], rx, ry)
                    hit = cand[inside]
                    pair_req.append(hit)
                    pair_zi.append(np.full(len(hit), zi))
                    unassigned[hit] = False
            else:
                for zi, (zid, rx, ry, ex0, ey0, ex1, ey1,
                         zx0, zy0, zx1, zy1) in enumerate(zs):
                    # zone bbox must cover the rect at all
                    cand = np.flatnonzero((x0 >= zx0) & (x1 <= zx1)
                                          & (y0 >= zy0) & (y1 <= zy1))
                    if not len(cand):
                        continue
                    # ONE stacked ray cast over all candidates' 4 corners
                    corners_in = point_in_polygon_np(
                        np.concatenate([x0[cand], x0[cand],
                                        x1[cand], x1[cand]]),
                        np.concatenate([y0[cand], y1[cand],
                                        y0[cand], y1[cand]]),
                        rx, ry).reshape(4, len(cand)).all(axis=0)
                    sub = cand[corners_in]
                    if not len(sub):
                        continue
                    # chunk the edge-vs-rect grid: the broadcast test is
                    # (4, n_rects, n_edges) dense — bound peak memory when
                    # many candidates fall inside a large-ring zone
                    blk = max(1, 2_000_000 // max(len(ex0), 1))
                    keep = []
                    for s in range(0, len(sub), blk):
                        part = sub[s:s + blk]
                        keep.append(part[~edges_hit_rects(
                            ex0, ey0, ex1, ey1,
                            x0[part], y0[part], x1[part], y1[part])])
                    hit = np.concatenate(keep)
                    pair_req.append(hit)
                    pair_zi.append(np.full(len(hit), zi))
            req = (np.concatenate(pair_req) if pair_req
                   else np.empty(0, dtype=np.int64))
            ziv = (np.concatenate(pair_zi) if pair_zi
                   else np.empty(0, dtype=np.int64))
            # requests matching nothing emit one NULL-zone row
            nomatch = np.flatnonzero(
                np.bincount(req, minlength=n) == 0)
            out_req = np.concatenate([req, nomatch])
            zone_ids = np.array([z[0] for z in zs] + [None], dtype=object)
            out_zid = zone_ids[np.concatenate(
                [ziv, np.full(len(nomatch), len(zs))]).astype(np.int64)]
            # original ordering: by request, then zone declaration order
            order = np.lexsort((np.concatenate(
                [ziv, np.full(len(nomatch), len(zs))]), out_req))
            base = pdf[[f.name for f in out_fields]]
            out = base.iloc[out_req[order]].reset_index(drop=True)
            out["zone_id"] = out_zid[order]
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
