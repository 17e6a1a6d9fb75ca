"""Raster zonal statistics: the interior-tile fast path must be invisible
(pipeline ≡ brute per-pixel), first-match overlap semantics, and the
dual-dialect gate replica."""

import numpy as np
import pandas as pd
import pytest

from routers_spark.functions.geo import point_in_polygon_np
from routers_spark.queries import (
    _ZS_BOX,
    _ZS_HEX,
    _ZS_PX,
    _ZS_TW,
    _ZS_TX0,
    _ZS_TY0,
    _zonal_tile_np,
)
from routers_spark.tiling.zonal import zonal_stats


def _brute(tiles, rings, tile_px):
    """All-pixel first-match ray cast — no bbox shortcut, no interior fast
    path, no codec: the oracle the pipeline must reproduce exactly."""
    agg = {}
    yy, xx = np.meshgrid(np.arange(tile_px), np.arange(tile_px),
                         indexing="ij")
    for tx, ty, arr in tiles:
        px = tx * tile_px + 0.5 + xx.ravel().astype(np.float64)
        py = ty * tile_px + 0.5 + yy.ravel().astype(np.float64)
        flat = arr.reshape(-1, 3)
        assigned = np.full(len(px), "none", dtype=object)
        unset = np.ones(len(px), dtype=bool)
        for zid, ring in rings:
            rx = np.array([p[0] for p in ring])
            ry = np.array([p[1] for p in ring])
            m = unset & point_in_polygon_np(px, py, rx, ry)
            assigned[m] = zid
            unset &= ~m
        for zid in np.unique(assigned):
            sel = flat[assigned == zid].astype(np.int64)
            cur = agg.setdefault(zid, [0, 0, 0, 0, 255, 0, 255, 0, 255, 0])
            cur[0] += len(sel)
            for c in range(3):
                cur[1 + c] += int(sel[:, c].sum())
                cur[4 + 2 * c] = min(cur[4 + 2 * c], int(sel[:, c].min()))
                cur[5 + 2 * c] = max(cur[5 + 2 * c], int(sel[:, c].max()))
    return agg


@pytest.fixture(scope="module")
def tile_set():
    # a 12x12 sub-window of the gate grid straddling the hex ring's west
    # boundary: interior, boundary, and outside tiles all present
    tiles = []
    for j in range(12):
        for i in range(12):
            tx, ty = _ZS_TX0 + i, _ZS_TY0 + 8 + j
            tiles.append((tx, ty, _zonal_tile_np(tx, ty)))
    return tiles


def test_zonal_pipeline_equals_brute(spark, tile_set):
    from routers_spark.functions.raster import png_encode

    pdf = pd.DataFrame(
        [(tx, ty, png_encode(arr)) for tx, ty, arr in tile_set],
        columns=["tx", "ty", "tile"])
    tiles_df = spark.createDataFrame(pdf)
    rings = [("hex", _ZS_HEX), ("box", _ZS_BOX)]
    out = zonal_stats(tiles_df, rings, tile_px=_ZS_PX).toPandas() \
        .set_index("zone_id").sort_index()
    exp = _brute(tile_set, rings, _ZS_PX)
    assert sorted(out.index) == sorted(exp)
    for zid, (n, sr, sg, sb, mnr, mxr, mng, mxg, mnb, mxb) in exp.items():
        row = out.loc[zid]
        assert (row["n_px"], row["sum_r"], row["sum_g"], row["sum_b"]) == \
            (n, sr, sg, sb), zid
        assert (row["min_r"], row["max_r"]) == (mnr, mxr), zid
        assert (row["min_g"], row["max_g"], row["min_b"], row["max_b"]) == \
            (mng, mxg, mnb, mxb), zid
    # the window straddles the hex boundary: interior AND outside tiles
    assert {"hex", "none"} <= set(out.index)


def test_zonal_first_match_overlap(spark):
    """Pixels inside BOTH rings must count for the FIRST ring only — total
    pixel mass is conserved across zones (no double counting)."""
    from routers_spark.functions.raster import png_encode

    # tiles in the hex/box overlap region (hex east side overlaps box west)
    tiles = []
    for j in range(6):
        for i in range(6):
            tx = _ZS_TX0 + 24 + i
            ty = _ZS_TY0 + 12 + j
            tiles.append((tx, ty, _zonal_tile_np(tx, ty)))
    pdf = pd.DataFrame(
        [(tx, ty, png_encode(arr)) for tx, ty, arr in tiles],
        columns=["tx", "ty", "tile"])
    fwd = zonal_stats(spark.createDataFrame(pdf),
                      [("hex", _ZS_HEX), ("box", _ZS_BOX)],
                      tile_px=_ZS_PX).toPandas()
    rev = zonal_stats(spark.createDataFrame(pdf),
                      [("box", _ZS_BOX), ("hex", _ZS_HEX)],
                      tile_px=_ZS_PX).toPandas()
    assert fwd["n_px"].sum() == rev["n_px"].sum() == len(tiles) * _ZS_PX ** 2
    # overlap exists in this window: priority order must move mass
    f = fwd.set_index("zone_id")["n_px"]
    r = rev.set_index("zone_id")["n_px"]
    assert f.get("hex", 0) > r.get("hex", 0)
    assert f.get("box", 0) < r.get("box", 0)


def test_zonal_gate_duckdb_replica(spark):
    """The driver gate end-to-end at sf0.001: engine (PNG cycle + fast
    paths) ≡ DuckDB per-pixel SQL, integer-exact."""
    duckdb = pytest.importorskip("duckdb")

    from routers_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf}/events.parquet')")
    sdf = Q.spark_fn("raster_zonal_stats")(spark, sf).toPandas() \
        .sort_values("zone_id").reset_index(drop=True)
    odf = con.execute(Q.oracle_sql()["raster_zonal_stats"]).df() \
        .sort_values("zone_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(sdf[sorted(sdf.columns)],
                                  odf[sorted(odf.columns)],
                                  check_dtype=False)
