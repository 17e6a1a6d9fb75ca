"""MVT wire-format round-trip, DBSCAN clustering semantics, PIP zone
assignment, hilbert Column-expression parity."""

import numpy as np
import pandas as pd
import pytest

from routers_spark.functions.cells import (
    geohash_int_np,
    hilbert_xy2h_np,
    slippy_offsets_np,
    slippy_xy_np,
)
from routers_spark.io.osm_pbf import _fields, decode_packed_varints, unzigzag
from routers_spark.tiling.cluster import convex_hull, dbscan_numpy
from routers_spark.tiling.mvt import MOVE_TO_1, encode_point_layer, zig


def decode_layer(blob: bytes) -> dict:
    """An MVT layer as a dict, read with the package's protobuf reader
    (``osm_pbf._fields``): Layer fields 15 version, 1 name, 2 feature,
    3 key, 4 value, 5 extent; Feature fields 1 id, 2 packed tags, 3 type,
    4 packed geometry."""
    layer = {"features": [], "keys": [], "values": []}
    for fno, _, v in _fields(blob):
        if fno == 15:
            layer["version"] = v
        elif fno == 5:
            layer["extent"] = v
        elif fno == 1:
            layer["name"] = bytes(v).decode()
        elif fno == 3:
            layer["keys"].append(bytes(v).decode())
        elif fno == 4:
            layer["values"].append(bytes(v))
        elif fno == 2:
            f = {"tags": []}
            for f2, _, v2 in _fields(v):
                if f2 in (1, 3):
                    f["id" if f2 == 1 else "type"] = v2
                elif f2 in (2, 4):
                    f["tags" if f2 == 2 else "geometry"] = \
                        decode_packed_varints(v2).tolist()
            layer["features"].append(f)
    return layer


def unzig(v: int) -> int:
    return int(unzigzag(np.array([v], dtype=np.uint64))[0])


def test_zigzag_u32():
    assert zig(0) == 0
    assert zig(1) == 2
    assert zig(0xFFFFFFFF) == 0xFFFFFFFF  # u32 -1 → zig -1 = 1? (u32 math)
    # the reference zig is on u32: (v << 1) ^ (v >> 31)
    assert zig(2048) == 4096
    assert unzig(zig(2048)) == 2048


def test_mvt_roundtrip_point_layer():
    ids = [7, 9]
    px = [100, 4000]
    py = [200, 4095]
    blob = encode_point_layer("pts", ids, px, py,
                              keys=["name"], str_values=[["a"], ["b"]])
    layer = decode_layer(blob)
    assert layer["version"] == 2
    assert layer["extent"] == 4096
    assert layer["name"] == "pts"
    assert layer["keys"] == ["name"]
    assert len(layer["features"]) == 2
    f0 = layer["features"][0]
    assert f0["id"] == 7
    assert f0["type"] == 1
    assert f0["geometry"][0] == MOVE_TO_1 == 9
    assert unzig(f0["geometry"][1]) == 100
    assert unzig(f0["geometry"][2]) == 200
    # tags interleave [key_index, value_index] with value index =
    # feature_index * n_keys + k (layer.rs:86-90)
    assert f0["tags"] == [0, 0]
    assert layer["features"][1]["tags"] == [0, 1]


def test_dbscan_two_blobs_and_noise():
    # two tight blobs 400 m apart + one far point
    base = np.array([
        [-118.500, 34.000], [-118.5001, 34.0001], [-118.5002, 34.0000],
        [-118.496, 34.000], [-118.4961, 34.0001], [-118.4962, 34.0002],
        [-118.40, 34.10],
    ])
    labels = dbscan_numpy(base[:, 0], base[:, 1], eps_m=50.0)
    assert labels[6] == -1
    assert len(set(labels[:3])) == 1 and labels[0] >= 0
    assert len(set(labels[3:6])) == 1 and labels[3] >= 0
    assert labels[0] != labels[3]


def test_dbscan_capacity_cap():
    # 20 colinear close points with capacity 5: first cluster capped at 5
    lons = -118.5 + np.arange(20) * 0.00001
    lats = np.full(20, 34.0)
    labels = dbscan_numpy(lons, lats, eps_m=10.0, capacity=5)
    counts = {c: int((labels == c).sum()) for c in set(labels) if c >= 0}
    assert all(v <= 5 for v in counts.values())


def test_dbscan_min_cluster_three():
    # a pair (2 points) never forms a cluster (Clustered needs >= 3)
    lons = np.array([-118.5, -118.5001, -118.3])
    lats = np.array([34.0, 34.0, 34.0])
    labels = dbscan_numpy(lons, lats, eps_m=50.0)
    assert list(labels) == [-1, -1, -1]


def test_convex_hull_square_with_interior():
    xs = np.array([0.0, 1.0, 1.0, 0.0, 0.5])
    ys = np.array([0.0, 0.0, 1.0, 1.0, 0.5])
    hull = convex_hull(xs, ys)
    assert len(hull) == 4
    assert set(hull) == {(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)}


def test_slippy_offsets_range():
    lon = np.linspace(-118.5, -118.0, 100)
    lat = np.linspace(33.7, 34.1, 100)
    xo, yo = slippy_offsets_np(lon, lat, 12)
    assert (xo >= 0).all() and (xo < 4096).all()
    assert (yo >= 0).all() and (yo < 4096).all()


# --------------------------------------------------------------- spark side


def test_assign_tile_cells_without_geohash_matches_numpy(spark):
    """gh_precision=None, keep=every column: the input passes through and
    tile_x/tile_y/hilbert equal the numpy kernels."""
    from routers_spark.tiling.pipeline import assign_tile_cells

    pdf = pd.DataFrame({
        "lon": np.linspace(-118.5, -118.0, 50),
        "lat": np.linspace(33.7, 34.1, 50),
    })
    df = spark.createDataFrame(pdf)
    out = assign_tile_cells(df, 12, gh_precision=None,
                            keep=df.columns).toPandas() \
        .sort_values("lon").reset_index(drop=True)
    assert list(out.columns) == ["lon", "lat", "tile_x", "tile_y", "hilbert"]
    assert np.array_equal(out["lon"].values, pdf["lon"].values)
    tx, ty = slippy_xy_np(pdf["lon"].values, pdf["lat"].values, 12)
    assert np.array_equal(out["tile_x"].values, tx)
    assert np.array_equal(out["tile_y"].values, ty)
    assert np.array_equal(out["hilbert"].values,
                          hilbert_xy2h_np(tx, ty, 12))


def test_assign_tile_cells_matches_jvm_form(spark):
    """The fused sqlgen projection + hilbert-join pass ≡ the numpy tile and
    geohash kernels (the JVM forms are also pinned to DuckDB by the
    tile_hilbert_key / cell_encode_geohash oracles)."""
    from routers_spark.functions.cells import geohash_str_np
    from routers_spark.tiling.pipeline import assign_tile_cells

    pdf = pd.DataFrame({
        "pid": np.arange(60, dtype=np.int64),
        "lon": np.linspace(-118.5, -118.0, 60),
        "lat": np.linspace(33.7, 34.1, 60),
    })
    df = spark.createDataFrame(pdf)
    fast = assign_tile_cells(df, zoom=12, gh_precision=6) \
        .toPandas().sort_values("pid").reset_index(drop=True)
    tx, ty = slippy_xy_np(pdf["lon"].values, pdf["lat"].values, 12)
    assert np.array_equal(fast["tile_x"].values, tx)
    assert np.array_equal(fast["tile_y"].values, ty)
    assert np.array_equal(fast["hilbert"].values, hilbert_xy2h_np(tx, ty, 12))
    assert (fast["gh"].values == geohash_str_np(
        pdf["lon"].values, pdf["lat"].values, 6)).all()
    assert list(fast.columns) == ["pid", "gh", "tile_x", "tile_y", "hilbert"]


def test_assign_tile_cells_null_and_nan_rows(spark):
    """A NULL or NaN lon/lat keeps its row, and every derived cell column
    is NULL: the clamped geohash grid must not file it in a real cell."""
    from routers_spark.tiling.pipeline import assign_tile_cells

    nan = float("nan")
    df = spark.createDataFrame(
        [(0, -118.4, 33.7), (1, None, 33.7), (2, nan, 33.7), (3, -118.4, nan)],
        "pid long, lon double, lat double")
    out = assign_tile_cells(df, zoom=12, gh_precision=6) \
        .toPandas().sort_values("pid").reset_index(drop=True)
    assert out["pid"].tolist() == [0, 1, 2, 3]
    assert out.loc[0].notna().all()
    for c in ("gh", "tile_x", "tile_y", "hilbert"):
        assert out.loc[1:, c].isna().all(), c


def test_raster_pyramid_spark(spark):
    from routers_spark.fixtures.images import generate_images
    from routers_spark.functions.raster import (
        decode_image,
        png_decode,
        psnr,
        pyramid,
    )
    from routers_spark.tiling.pipeline import raster_pyramid

    images = generate_images(20, seed=5)
    df = spark.createDataFrame(images)
    out = raster_pyramid(df, base_zoom=19, levels=2).toPandas()
    assert set(out["level"]) == {0, 1, 2}
    # verify one image end-to-end: level tiles equal the local pyramid
    img0 = images.iloc[0]
    mine = out[out.image_id == img0.image_id].sort_values("level")
    arr = decode_image(bytes(img0["bytes"]), img0["fmt"])
    local = pyramid(arr, 2)
    for lvl, (_, row) in enumerate(mine.iterrows()):
        got = png_decode(bytes(row["tile_png"]))
        assert np.array_equal(got, local[lvl])
        # parity gate: decoded pixels vs original-at-level
        assert psnr(got, local[lvl]) == float("inf")
    # tile keys follow the slippy projection of the GPS point
    tx, ty = slippy_xy_np([img0["lon"]], [img0["lat"]], 19)
    r0 = mine[mine.level == 0].iloc[0]
    assert (r0["x"], r0["y"]) == (tx[0], ty[0])


def test_mvt_point_tiles_spark(spark):
    from routers_spark.tiling.pipeline import mvt_point_tiles

    pdf = pd.DataFrame({
        "image_id": [f"i{k}" for k in range(30)],
        "lon": np.linspace(-118.45, -118.44, 30),
        "lat": np.full(30, 33.75),
    })
    out = mvt_point_tiles(spark.createDataFrame(pdf), zoom=14).toPandas()
    assert out["n_points"].sum() == 30
    total = 0
    for _, row in out.iterrows():
        layer = decode_layer(bytes(row["mvt"]))
        assert layer["version"] == 2 and layer["extent"] == 4096
        total += len(layer["features"])
    assert total == 30


def test_mvt_point_tiles_drop_nan_point(spark):
    """A NaN point lands in no MVT tile (it used to land in tile x = 0)."""
    from routers_spark.tiling.pipeline import mvt_point_tiles

    df = spark.createDataFrame(
        [("a", -118.45, 33.75), ("b", -118.44, 33.75),
         ("c", float("nan"), 33.75)],
        "image_id string, lon double, lat double")
    out = mvt_point_tiles(df, zoom=14).toPandas()
    assert out["n_points"].sum() == 2
    tx, ty = slippy_xy_np([-118.45, -118.44], [33.75, 33.75], 14)
    assert set(zip(out["x"], out["y"])) == set(zip(tx.tolist(), ty.tolist()))
    assert (out["z"] == 14).all()


def test_mvt_point_tiles_ships_each_key_once(spark, capsys):
    """The shuffle under the MVT grouping carries no attribute twice (the
    keys used to ride once as grouping keys and once as data, with a
    literal z beside them), and building the frame raises no warning."""
    import re
    import warnings

    from routers_spark.tiling.pipeline import mvt_point_tiles

    df = spark.createDataFrame(
        [("a", -118.45, 33.75), ("b", -118.44, 33.75)],
        "image_id string, lon double, lat double")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = mvt_point_tiles(df, zoom=14)
    assert [str(w.message) for w in caught] == []
    capsys.readouterr()
    out.explain(mode="formatted")
    plan = capsys.readouterr().out
    inputs = re.findall(r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[(.*)\]", plan)
    assert len(inputs) == 1, plan
    attrs = inputs[0].split(", ")
    assert len(attrs) == len(set(attrs)) == 5, attrs
    assert not any(a.startswith("z#") for a in attrs), attrs


def test_assign_zones_spark(spark):
    from routers_spark.zones.pip import assign_zones

    zones = [
        {"zone_id": "west", "ring": [(-118.52, 33.69), (-118.48, 33.69),
                                     (-118.48, 33.75), (-118.52, 33.75)]},
        {"zone_id": "east", "ring": [(-118.48, 33.69), (-118.40, 33.69),
                                     (-118.40, 33.75), (-118.48, 33.75)]},
    ]
    pdf = pd.DataFrame({
        "image_id": ["a", "b", "c"],
        "lon": [-118.50, -118.45, -118.30],
        "lat": [33.72, 33.72, 33.72],
    })
    out = assign_zones(spark.createDataFrame(pdf), zones).toPandas()
    z = dict(zip(out.image_id, out.zone_id))
    assert z == {"a": "west", "b": "east", "c": None}


def check_hilbert_parity(spark, orders=range(1, 31)):
    """hilbert_col == the classic rotation loop (hilbert_xy2h_np), bit for
    bit: every (x, y) at orders 1-8, 4,000 random points at each order
    9-30, and negative and out-of-range coordinates at every order (both
    read only the low ``order`` bits)."""
    from pyspark.sql import functions as F

    from routers_spark.functions.hilbert_jvm import hilbert_col

    rng = np.random.default_rng(3)
    edge = np.array([-1, -(1 << 40), 1 << 31, (1 << 62) + 5,
                     -(1 << 63), (1 << 63) - 1], dtype=np.int64)
    for order in orders:
        if order <= 8:
            g = np.arange(1 << order)
            x, y = (a.ravel() for a in np.meshgrid(g, g, indexing="ij"))
        else:
            x, y = rng.integers(0, 1 << order, (2, 4000))
        wx, wy = rng.integers(-(1 << 62), 1 << 62, (2, 250))
        x = np.concatenate([x, wx, edge, edge[::-1]])
        y = np.concatenate([y, wy, edge[::-1], edge])
        pts = spark.createDataFrame(pd.DataFrame(
            {"x": x, "y": y, "want": hilbert_xy2h_np(x, y, order)}))
        bad = pts.select("want", hilbert_col("x", "y", order).alias("got")) \
            .filter(~F.col("got").eqNullSafe(F.col("want"))).count()
        assert bad == 0, (order, bad)


def test_hilbert_jvm_matches_numpy(spark):
    check_hilbert_parity(spark)


def test_parity_under_vanilla_ansi_session():
    """The Hilbert and S2 parity checks once more under a plain session:
    Spark 4 defaults, ANSI on, where element_at raises on an out-of-range
    index. Then a restarted session in the same JVM, as perfbench's warm
    set-ups make, still gets correct keys from the per-process Hilbert
    Columns. A child process, since one JVM holds one SparkContext."""
    import os
    import subprocess
    import sys

    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    code = (
        f"import sys; sys.path[:0] = [{here!r}, {root!r}]\n"
        "from pyspark.sql import SparkSession\n"
        "import test_s2, test_tiling\n"
        "spark = SparkSession.builder.master('local[2]').getOrCreate()\n"
        "assert spark.conf.get('spark.sql.ansi.enabled') == 'true'\n"
        "test_tiling.check_hilbert_parity(spark)\n"
        "test_s2.check_s2_parity(spark)\n"
        "spark.stop()\n"
        "spark = SparkSession.builder.master('local[2]').getOrCreate()\n"
        "test_tiling.check_hilbert_parity(spark, orders=(3, 16, 30))\n"
        "spark.stop()\n")
    r = subprocess.run([sys.executable, "-c", code], cwd=root,
                       capture_output=True, text=True, timeout=900)
    assert r.returncode == 0, r.stderr[-4000:]


def test_hilbert_col_expression_stays_small(spark):
    """Each chunk lookup is read twice (digits, next state), so the tree
    grows with the square of the chunk count: about 1,500 analyzed nodes
    at order 30. A form that nests the whole walk per level doubles per
    chunk and breaks this bound long before 10 chunks."""
    from routers_spark.functions.hilbert_jvm import hilbert_col

    df = spark.createDataFrame([(1, 2)], "x long, y long")
    expr = df.select(hilbert_col("x", "y", 30).alias("h"))._jdf \
        .queryExecution().analyzed().expressions().apply(0)
    assert expr.treeString().count("\n") < 2000


def test_assign_tile_cells_jvm_plan_has_no_python(spark):
    """Scale guard for the JVM fast path: the assign_tile_cells plan is
    projections only — no join, no exchange and no Arrow/Python eval node
    (the Arrow pipe was the measured non-scaling resource, BENCH.md
    round-4 breakdown)."""
    import pandas as pd

    from routers_spark.tiling.pipeline import assign_tile_cells

    df = spark.createDataFrame(pd.DataFrame({
        "i": [1, 2, 3],
        "lon": [-118.41, -118.42, -118.43],
        "lat": [33.71, 33.72, 33.73],
    }))
    plan = assign_tile_cells(df, zoom=15, gh_precision=6) \
        ._jdf.queryExecution().executedPlan().toString()
    for bad in ("Join", "Exchange", "ArrowEvalPython", "FlatMapInPandas",
                "MapInPandas", "BatchEvalPython", "PythonUDF"):
        assert bad not in plan, bad


def test_hilbert_jvm_preserves_null_rows(spark):
    """A NULL x/y must yield a NULL hilbert key, not a silently dropped
    row (element_at of a NULL index is NULL)."""
    import pandas as pd

    from routers_spark.functions.hilbert_jvm import hilbert_col

    pdf = pd.DataFrame({"i": [0, 1, 2],
                        "x": pd.array([3, None, 7], dtype="Int64"),
                        "y": pd.array([5, 2, None], dtype="Int64")})
    out = spark.createDataFrame(pdf) \
        .withColumn("hilbert", hilbert_col("x", "y", 15)) \
        .toPandas().sort_values("i")
    assert len(out) == 3
    assert out["hilbert"].notna().tolist() == [True, False, False]
