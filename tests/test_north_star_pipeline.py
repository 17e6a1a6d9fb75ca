"""The north-star pipeline end-to-end (BASELINE.json north_star): a
snapshot-checkpointed run over the image+caption corpus — cell encoding,
HMM map matching of the GPS trail, tile assignment, raster pyramid joined
back to vector cells — with per-partition lineage rows at every stage,
captions byte-equal through the whole pipeline, and decoded pixels
surviving the raster path bit-exactly (PSNR gate for the lossy codec lives
in tests/test_raster.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from routers_spark.fixtures.images import generate_images
from routers_spark.functions.raster import decode_image, png_decode
from routers_spark.io.checkpoint import Pipeline, lineage_rows
from routers_spark.matching.matcher import match_trips
from routers_spark.tiling.pipeline import assign_tile_cells, raster_pyramid

ZOOM = 16


@pytest.mark.slow
def test_north_star_pipeline(spark, tmp_path):
    root = str(tmp_path / "warehouse")
    images_pdf = generate_images(200, seed=42)
    images = spark.createDataFrame(images_pdf)
    from routers_spark.fixtures.roads import grid_network

    nodes, edges = grid_network(20)
    nodes_df = spark.createDataFrame(nodes)
    edges_df = spark.createDataFrame(edges)

    pipe = Pipeline(spark, root)
    ingested = pipe.stage("ingest", "images", lambda _s: images)
    matched = pipe.stage(
        "match", "matched",
        lambda _s: match_trips(
            pipe.read("images").select("trip_id", "seq", "lon", "lat"),
            nodes_df, edges_df),
        inputs=[ingested.snapshot_id])
    tiled = pipe.stage(
        "tiles", "vector_tiles",
        lambda _s: assign_tile_cells(
            pipe.read("matched")
            .filter("status = 'matched'")
            .selectExpr("trip_id", "seq", "matched_lon AS lon",
                        "matched_lat AS lat"), ZOOM, gh_precision=None)
        .withColumn("z", F.lit(ZOOM)),
        inputs=[matched.snapshot_id])
    raster = pipe.stage(
        "raster", "raster_tiles",
        lambda _s: raster_pyramid(pipe.read("images"), base_zoom=ZOOM, levels=1),
        inputs=[ingested.snapshot_id])

    # raster tiles join back to the vector cells on the tile key
    joined = (
        pipe.read("raster_tiles").filter("level = 0")
        .join(pipe.read("vector_tiles")
              .selectExpr("z", "tile_x AS x", "tile_y AS y", "trip_id", "seq")
              .distinct(),
              ["z", "x", "y"])
    )
    assert joined.count() > 0  # matched positions share tiles with images

    # ---- lineage: every stage committed per-partition rows with metrics;
    # the snapshot-scoped input total lives ONCE at manifest level (summing
    # a per-row copy across partitions would overcount it)
    from routers_spark.io.checkpoint import read_manifest

    for table in ("images", "matched", "vector_tiles", "raster_tiles"):
        rows = lineage_rows(root, table)
        assert rows, table
        assert all("rows_out" in r and "partition_id" in r
                   and "wall_ms" in r for r in rows)
        assert "rows_in" in read_manifest(root, table)
    # downstream stages carry their input snapshot's row count
    assert read_manifest(root, "matched")["rows_in"] == 200

    # ---- caption byte-equality through the checkpointed pipeline
    got = {r.image_id: r.caption
           for r in pipe.read("images").select("image_id", "caption").collect()}
    want = dict(zip(images_pdf["image_id"], images_pdf["caption"]))
    assert got == want

    # ---- pixel parity: every level-0 raster tile decodes bit-equal to the
    # decoded source bytes (the lossy-codec PSNR>=40 gate is the codec test)
    tiles = {r.image_id: bytes(r.tile_png)
             for r in pipe.read("raster_tiles").filter("level = 0")
             .select("image_id", "tile_png").collect()}
    src = images_pdf.set_index("image_id")
    checked = 0
    for iid in list(tiles)[:40]:
        orig = decode_image(bytes(src.loc[iid, "bytes"]), src.loc[iid, "fmt"])
        assert np.array_equal(png_decode(tiles[iid]), orig), iid
        checked += 1
    assert checked == 40

    # ---- resume: a second pipeline over the same root recomputes nothing —
    # the rerun re-derives each stage's input ids from the committed hits
    # (exactly what a restarted job does), so identities line up
    pipe2 = Pipeline(spark, root)
    before = len(lineage_rows(root, "matched"))
    ingested2 = pipe2.stage("ingest", "images", lambda _s: (_ for _ in ()).throw(
        AssertionError("ingest must come from the committed snapshot")))
    assert not ingested2.recomputed
    assert ingested2.snapshot_id == ingested.snapshot_id
    m2 = pipe2.stage("match", "matched", lambda _s: (_ for _ in ()).throw(
        AssertionError("stage must come from the committed snapshot")),
        inputs=[ingested2.snapshot_id])
    assert not m2.recomputed
    assert len(lineage_rows(root, "matched")) == before
