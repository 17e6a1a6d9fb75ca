"""Tiling pipelines over the image corpus — all Arrow-batched.

  - ``assign_tile_cells``: JVM-side geohash + slippy (x, y) + hilbert
    sort key
  - ``raster_pyramid``: decode image bytes → cut the z/x/y pyramid
    (``mapInPandas``; T7, north rule) — each image's pixels are halved per
    zoom step below its base zoom and keyed by the GPS point's tile at that
    zoom, joining rasters back to the vector tile/cell grid
  - ``mvt_point_tiles``: per-(z,x,y) MVT point layers
    (``groupBy.applyInPandas``; T4/S9)
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from routers_spark.functions import sqlgen
from routers_spark.functions.cells import (
    hilbert_xy2h_np,
    slippy_offsets_np,
    slippy_xy_np,
)
from routers_spark.functions.hilbert_jvm import hilbert_col
from routers_spark.functions.raster import decode_image, png_encode, pyramid


def assign_tile_cells(df: DataFrame, zoom: int, gh_precision: int | None = 6,
                      lon: str = "lon", lat: str = "lat",
                      keep: list[str] | None = None) -> DataFrame:
    """The fused tile/cell assignment fast path: geohash + slippy + hilbert
    for every row (T1/T3/P2). ``gh_precision=None`` skips the geohash;
    ``keep`` lists the input columns carried through (default: all but
    lon/lat). The hilbert key is the cluster/sort column enabling
    range-pruned tile scans (S8).

    The whole pass is JVM projections with no join and no Python stage:
    geohash + slippy as one rendered sqlgen projection, and hilbert as one
    Column of in-expression chunk lookups over tile_x/tile_y
    (functions/hilbert_jvm.hilbert_col). A NULL or NaN lon/lat keeps its
    row with NULL gh/tile_x/tile_y/hilbert."""
    import uuid

    keep = keep if keep is not None else [
        c for c in df.columns if c not in (lon, lat)]
    S = sqlgen.SPARK
    name = f"_atc_{uuid.uuid4().hex[:10]}"
    df.createOrReplaceTempView(name)
    prog = sqlgen.Program(f"SELECT * FROM {name}", list(df.columns))
    sel = list(keep)
    if gh_precision is not None:
        gh = sqlgen.p_geohash_str(prog, S, lon, lat, gh_precision)
        sel.append(f"CASE WHEN {_no_cell(lon, lat)} THEN NULL ELSE {gh} END"
                   " AS gh")
    tx, ty = _tile_xy_sql(lon, lat, zoom)
    sel += [f"{tx} AS tile_x", f"{ty} AS tile_y"]
    base = df.sparkSession.sql(prog.render(sel))
    # the analyzed plan no longer needs the catalog entry — drop it so
    # repeated calls don't grow the session catalog without bound
    df.sparkSession.catalog.dropTempView(name)
    return base.withColumn("hilbert", hilbert_col("tile_x", "tile_y", zoom))


def _no_cell(lon: str, lat: str) -> str:
    # a NULL/NaN point has no cell: the clamped geohash grid and the
    # floor-to-BIGINT slippy casts would otherwise file it in a real one
    return f"{lon} IS NULL OR {lat} IS NULL OR isnan({lon}) OR isnan({lat})"


def _tile_xy_sql(lon: str, lat: str, zoom: int) -> tuple[str, str]:
    """Spark SQL for the slippy tile x and y at ``zoom``; NULL for a NULL
    or NaN point."""
    bad = _no_cell(lon, lat)
    return tuple(f"CASE WHEN {bad} THEN NULL ELSE {e} END"
                 for e in sqlgen.slippy_xy_expr(sqlgen.SPARK, lon, lat, zoom))


def fragment_hilbert_range(z: int, x: int, y: int,
                           storage_zoom: int) -> tuple[int, int]:
    """S8 range scan key bounds: the hilbert keys of tile (z,x,y)'s
    descendants at ``storage_zoom``. Hilbert is hierarchical — the 4^k
    children of a cell occupy exactly [h·4^k, (h+1)·4^k) — so one tile
    query is ONE contiguous key range (the BigTable RowRange analog,
    bigtable.rs:311-320 built from Fragment::detail, fragment.rs:35-52).
    Returns the inclusive [lo, hi] pair."""
    assert storage_zoom >= z
    k = storage_zoom - z
    h = int(hilbert_xy2h_np(np.array([x]), np.array([y]), z)[0])
    return h << (2 * k), ((h + 1) << (2 * k)) - 1


def scan_tile_range(tiles_df: DataFrame, z: int, x: int, y: int,
                    storage_zoom: int, key_col: str = "hilbert") -> DataFrame:
    """Range-pruned tile scan: filter the hilbert-keyed tile table to one
    fragment's descendants. The BETWEEN predicate pushes into the parquet
    scan (min/max pruning on the sort key), so a z/x/y query touches only
    the files covering its range — the reference's row-range read
    (range.rs:207-237) re-expressed as partition/file pruning."""
    lo, hi = fragment_hilbert_range(z, x, y, storage_zoom)
    return tiles_df.filter(F.col(key_col).between(lo, hi))


RASTER_SCHEMA = (
    "image_id string, z int, x long, y long, level int, tile_w int, "
    "tile_h int, tile_png binary"
)


def raster_pyramid(images_df: DataFrame, base_zoom: int = 19,
                   levels: int = 3) -> DataFrame:
    """T7: decode each image, cut ``levels`` box-filtered halvings, key each
    level by the image's GPS tile at (base_zoom - level). Output tiles are
    re-encoded PNG (lossless, deterministic) regardless of input format.

    Scale shape: one narrow ``mapInPandas`` pass — no shuffle; the pyramid
    fan-out is bounded (levels+1 rows per image) and the downstream join to
    vector cells is an equi-join on (z, x, y).
    """
    cols = ["image_id", "bytes", "fmt", "lon", "lat"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("image_id", "z", "x", "y", "level",
                                   "tile_w", "tile_h", "tile_png")}
            # every image's tile at every level: one projection per level
            lon, lat = pdf["lon"].to_numpy(), pdf["lat"].to_numpy()
            keys = [slippy_xy_np(lon, lat, base_zoom - lvl)
                    for lvl in range(levels + 1)]
            for i, (image_id, data, fmt) in enumerate(zip(
                    pdf["image_id"].to_numpy(), pdf["bytes"].to_numpy(),
                    pdf["fmt"].to_numpy())):
                try:
                    arr = decode_image(bytes(data), fmt)
                except NotImplementedError:
                    continue
                for lvl, img in enumerate(pyramid(arr, levels)):
                    tx, ty = keys[lvl]
                    out["image_id"].append(image_id)
                    out["z"].append(base_zoom - lvl)
                    out["x"].append(int(tx[i]))
                    out["y"].append(int(ty[i]))
                    out["level"].append(lvl)
                    out["tile_w"].append(img.shape[1])
                    out["tile_h"].append(img.shape[0])
                    out["tile_png"].append(png_encode(img))
            yield pd.DataFrame(out)

    return images_df.select(*cols).mapInPandas(gen, schema=RASTER_SCHEMA)


MVT_SCHEMA = "z int, x long, y long, n_points long, mvt binary"


def mvt_point_tiles(points_df: DataFrame, zoom: int, layer_name: str = "points",
                    id_col: str = "image_id") -> DataFrame:
    """T4/S9: group points into slippy tiles at ``zoom`` and emit one MVT
    layer blob per tile. Feature ids are geohash-packed u64s
    (cluster.rs:79-103); feature order inside a tile is the stable
    (hilbert-of-offset, id) sort, making blobs deterministic."""
    from routers_spark.functions.cells import geohash_int_np
    from routers_spark.tiling.mvt import encode_point_layer

    def build(key, pdf):
        x, y = key
        pdf = pdf.sort_values(id_col, kind="stable")
        px, py = slippy_offsets_np(pdf["lon"].values, pdf["lat"].values, zoom)
        ids = np.uint64(geohash_int_np(pdf["lon"].values, pdf["lat"].values, 12))
        blob = encode_point_layer(layer_name, ids, px, py)
        return pd.DataFrame({
            "z": [zoom], "x": [x], "y": [y],
            "n_points": [len(pdf)], "mvt": [blob],
        })

    # the tile keys are computed in the grouping itself, not selected as
    # columns too, so the shuffle carries each once; z is the constant
    # ``zoom`` and does not ride it. A NULL/NaN point has no tile.
    tx, ty = _tile_xy_sql("lon", "lat", zoom)
    return points_df.select("lon", "lat", id_col) \
        .filter(F.expr(tx).isNotNull()) \
        .groupBy(F.expr(tx).alias("tile_x"), F.expr(ty).alias("tile_y")) \
        .applyInPandas(build, schema=MVT_SCHEMA)
