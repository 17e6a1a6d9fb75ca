"""spark-submit entry point — the north-rule deployment shape.

Launched by ``tools/submit.sh`` via ``spark-submit --py-files
routers_spark.zip``; the engine package arrives through the submitted zip
(NO repo-path sys.path hack here — that is the point: executors import
routers_spark from the shipped archive exactly as they would on a
multi-executor cluster). The session comes from spark-submit's ``--master``
/ ``--conf`` flags, untouched.

Runs a compact north-star pipeline (map match + tile assignment) and
prints one JSON line with throughput, so the same script run at two
cluster sizes yields the N-vs-4N scaling evidence.
"""

from __future__ import annotations

import json
import sys
import time


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from routers_spark.fixtures.roads import grid_network, walk_trips
    from routers_spark.matching.matcher import match_trips
    from routers_spark.tiling.pipeline import assign_tile_cells

    n_trips = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    n_tile_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # the engine's Arrow/ANSI requirements are runtime SQLConfs — assert
    # them here instead of rebuilding the session (cluster-operator owns it)
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")

    nodes, edges = grid_network(30)
    trips = walk_trips(nodes, edges, n_trips=n_trips, points_per_trip=10,
                       seed=42)
    points_df = spark.createDataFrame(trips)
    nodes_df = spark.createDataFrame(nodes)
    edges_df = spark.createDataFrame(edges)

    t0 = time.time()
    match_rows = match_trips(points_df, nodes_df, edges_df).count()
    t1 = time.time()

    pts = spark.range(n_tile_rows).select(
        (F.lit(-118.5) + (F.col("id") % 4096).cast("double") * 1.5e-4)
        .alias("lon"),
        (F.lit(33.7) + (F.col("id") % 4099).cast("double") * 1.0e-4)
        .alias("lat"),
    )
    tile_rows = assign_tile_cells(pts, zoom=12, gh_precision=None).agg(
        F.count(F.lit(1)), F.sum("hilbert")).collect()[0][0]
    t2 = time.time()

    print(json.dumps({
        "master": spark.sparkContext.master,
        "match_rows": match_rows,
        "match_sec": round(t1 - t0, 3),
        "tile_rows": tile_rows,
        "tile_sec": round(t2 - t1, 3),
        "rows_per_sec": round((match_rows + tile_rows) / (t2 - t0), 1),
    }))


if __name__ == "__main__":
    main()
