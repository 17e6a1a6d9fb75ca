"""The north-star scaling job: matched-edge + tile-assignment rows/sec.

One heavy pipeline — map-match a large synthetic trip corpus against the
grid road graph AND assign tile/hilbert/geohash cells to a large point set —
sized so real work dominates fixed overheads (JVM warm-up, codegen, task
scheduling), which is what makes a two-parallelism scaling measurement
meaningful.

Usage:  SPARK_GRAFT_CPUS=8|32 python tools/scaling_job.py [n_trips] [n_tile_rows]
Prints one JSON line: {"cpus", "match_sec", "match_rows", "tile_sec",
"tile_rows", "rows_per_sec"}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from routers_spark import queries as Q
    from routers_spark.fixtures.roads import grid_network, walk_trips
    from routers_spark.matching.matcher import match_trips
    from routers_spark.session import get_spark

    n_trips = int(sys.argv[1]) if len(sys.argv) > 1 else 8000
    n_tile_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # 2x cores (the cluster-sizing rule session.py documents): two full
    # task waves per stage halve the straggler tail the matcher's variable
    # per-trip cost creates — measured 10.4 -> 8.8 s at local[32] vs one
    # wave, and the same uniform rule applies at every parallelism level
    spark = get_spark(f"local[{cpus}]", app_name="scaling_job",
                      shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # ---- stage 1: map matching (per-trip Viterbi over broadcast graph).
    # The trip corpus materializes to parquet FIRST (generation is a
    # driver-side pandas build, not the operator under measurement); the
    # timed stage starts from a parallel parquet scan like a real job.
    import tempfile

    nodes, edges = grid_network(50)
    trips = walk_trips(nodes, edges, n_trips=n_trips, points_per_trip=10,
                       seed=42)
    trips_dir = tempfile.mkdtemp(prefix="scaling_trips_")
    (
        spark.createDataFrame(trips).repartition(cpus * 4, "trip_id")
        .write.mode("overwrite").parquet(trips_dir)
    )
    points_df = spark.read.parquet(trips_dir)
    nodes_df = spark.createDataFrame(nodes)
    edges_df = spark.createDataFrame(edges)
    # warm-up pass + best-of-2 timed iterations — the reference's own
    # conformance harness measures after 5 warm-up iterations
    # (conformance/conformance.toml:5-11); this measures steady-state
    # THROUGHPUT scaling (long-lived executors), not interpreter spawn.
    # ONE plan (one graph broadcast) reused across iterations: rebuilding
    # match_trips per iteration re-broadcasts the graph under a fresh key,
    # so every python worker re-hydrates and re-warms its predicate cache
    # inside the timed window — that measures COLD warm-up (a per-deploy
    # one-time cost), not the steady-state throughput this job is defined
    # to measure, and it biases the 4N level (4x the redundant warm-up).
    matched = match_trips(points_df, nodes_df, edges_df)
    matched.limit(5000).write.mode("overwrite").format("noop").save()
    match_sec = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        matched.write.mode("overwrite").format("noop").save()
        match_sec = min(match_sec, time.perf_counter() - t0)
    match_rows = len(trips)  # one output row per GPS point

    # ---- stage 2: tile assignment (geohash + slippy + hilbert per row).
    # The engine fast path (assign_tile_cells: sqlgen geohash+slippy
    # projection + chunked broadcast-lookup hilbert joins, zero Python in
    # the pass).
    from routers_spark.tiling.pipeline import assign_tile_cells

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_events = ev.count()
    mult = max(1, n_tile_rows // max(n_events, 1))
    # materialize the synthetic input to parquet first (generation is a
    # single-task explode — not the operator under measurement); the timed
    # stage then starts from a parallel parquet scan like a real job.
    import tempfile

    big_dir = tempfile.mkdtemp(prefix="scaling_pts_")
    (
        ev.withColumn("rep", F.explode(F.sequence(F.lit(1), F.lit(mult))))
        .withColumn("lon", F.expr(Q.EVENT_LON) + F.col("rep") * 1e-7)
        .withColumn("lat", F.expr(Q.EVENT_LAT))
        .select("event_id", "rep", "lon", "lat")
        .repartition(cpus * 4)
        .write.mode("overwrite").parquet(big_dir)
    )
    pts = spark.read.parquet(big_dir)

    def timed(df) -> float:
        df.limit(100_000).write.mode("overwrite").format("noop").save()
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        return best

    tile_sec = timed(assign_tile_cells(pts, zoom=15, gh_precision=6))
    tile_rows = mult * n_events

    out = {
        "cpus": cpus,
        "match_sec": round(match_sec, 2),
        "match_rows": match_rows,
        "tile_sec": round(tile_sec, 2),
        "tile_rows": tile_rows,
        "rows_per_sec": round(
            (match_rows + tile_rows) / (match_sec + tile_sec), 1
        ),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
