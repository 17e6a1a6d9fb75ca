"""Padded cell-cover edge partitioning (P4/P5) and the DataFrame-level
candidate join — the scale path that drops the broadcast requirement for
huge graphs.

The reference's shard builder admits an edge into a cell when the edge
intersects the cell's padded bounds (libs/routers_shard/src/selection.rs:
52-96 equirectangular padding with M_PER_DEG = 111_320, cos-lat corrected;
network.rs:110-169 admit rules). Here that becomes: explode every edge to
the integer grid cells its padded bbox covers, join points on their single
cell, refine, project — boundary correctness via duplication (O11), no
dedup needed because a point consumes exactly one cell's edge list.

Everything before the projection UDF is JVM Column algebra (explode via
``sequence``), so Catalyst prunes/pushes; the projection+emission kernel is
ONE vectorized Arrow pass over the joined pairs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from routers_spark.config import DEFAULT_EMISSION_ERROR_M, DEFAULT_SEARCH_DISTANCE_M, M_PER_DEG
from routers_spark.functions.geo import (
    haversine_m_np,
    line_locate_point_np,
    point_at_ratio_np,
    square_box_np,
)
from routers_spark.matching import costing


def edge_endpoint_coords(edges_df: DataFrame,
                         nodes_df: DataFrame) -> DataFrame:
    """Edges with endpoint coordinates attached: (edge cols..., ax, ay,
    bx, by) — the shared prefix of every cover build."""
    n = nodes_df.select(
        F.col("node_id"), F.col("lon").alias("n_lon"),
        F.col("lat").alias("n_lat"))
    return (
        edges_df.join(n.withColumnRenamed("node_id", "src"), "src")
        .withColumnsRenamed({"n_lon": "ax", "n_lat": "ay"})
        .join(n.withColumnRenamed("node_id", "dst"), "dst")
        .withColumnsRenamed({"n_lon": "bx", "n_lat": "by"})
    )


def admitted_edge_coords(edges_df: DataFrame, nodes_df: DataFrame,
                         points_df: DataFrame, pad_m: float,
                         cell_deg: float,
                         lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Degree-space region prune shared by every cover of one match call:
    edges whose ``pad_m``-padded bbox, expanded by one ``cell_deg`` (the
    cell-quantization slack), overlaps the points' global lon/lat range.
    Strict superset of any per-cover cell-range admit with pad ≤ pad_m
    and grid ≥ cell_deg — so the caller can compute this ONCE with the
    widest pad/coarsest grid and feed every cover from it, paying the
    full-edge-table scan once per query instead of once per cover (the
    r6 crossover leg's remaining edge-linear term). One broadcast 1-row
    aggregate; no driver jobs."""
    e = edge_endpoint_coords(edges_df, nodes_df)
    pad_lat = pad_m / M_PER_DEG
    pad_lon = F.lit(pad_m) / (
        F.lit(M_PER_DEG)
        * F.cos(F.radians(F.greatest(F.abs("ay"), F.abs("by")))))
    bounds = points_df.agg(
        F.min(lon).alias("plon0"), F.max(lon).alias("plon1"),
        F.min(lat).alias("plat0"), F.max(lat).alias("plat1"))
    slack = float(cell_deg)
    return (
        e.crossJoin(F.broadcast(bounds))
        .filter(
            (F.greatest("ax", "bx") + pad_lon >= F.col("plon0") - slack)
            & (F.least("ax", "bx") - pad_lon <= F.col("plon1") + slack)
            & (F.greatest("ay", "by") + pad_lat >= F.col("plat0") - slack)
            & (F.least("ay", "by") - pad_lat <= F.col("plat1") + slack))
        .drop("plon0", "plon1", "plat0", "plat1")
    )


def edges_with_cover_cells(edges_df: DataFrame, nodes_df: DataFrame,
                           cell_deg: float, pad_m: float,
                           cell_bounds: DataFrame | None = None,
                           edge_coords: DataFrame | None = None) -> DataFrame:
    """Edge rows exploded to covered (cx, cy) cells: bbox of the edge's
    endpoints expanded by ``pad_m`` (equirectangular °/m, cos-lat corrected
    — selection.rs:16-29), floored onto the world-anchored grid.

    ``cell_bounds`` (optional): a ONE-row frame (pcx0, pcx1, pcy0, pcy1)
    with the consumers' global cell range. Edges whose padded cell range
    cannot intersect it are dropped BEFORE the explode — the reference's
    shard locality (a matcher only hydrates the shards its trips touch,
    bin/matcher.rs:48-55) applied to the cover build: a continental edge
    table is pruned to the trips' region instead of being exploded
    whole-table per query (the flat celljoin overhead of the r5 crossover
    leg). Pure JVM: a broadcast of the 1-row aggregate, no driver job.
    Dropped edges share no cell with any consumer cell by construction,
    so join results are unchanged.

    ``edge_coords`` (optional): a frame already carrying (edge cols...,
    ax, ay, bx, by) — e.g. the shared :func:`admitted_edge_coords` prune
    of one match call — skips the node joins here."""
    e = edge_coords if edge_coords is not None \
        else edge_endpoint_coords(edges_df, nodes_df)
    pad_lat = pad_m / M_PER_DEG
    pad_lon = F.lit(pad_m) / (
        F.lit(M_PER_DEG)
        * F.cos(F.radians(F.greatest(F.abs("ay"), F.abs("by"))))
    )
    min_x = F.least("ax", "bx") - pad_lon
    max_x = F.greatest("ax", "bx") + pad_lon
    min_y = F.least("ay", "by") - F.lit(pad_lat)
    max_y = F.greatest("ay", "by") + F.lit(pad_lat)
    cx0 = F.floor((min_x + 180.0) / cell_deg)
    cx1 = F.floor((max_x + 180.0) / cell_deg)
    cy0 = F.floor((min_y + 90.0) / cell_deg)
    cy1 = F.floor((max_y + 90.0) / cell_deg)
    if cell_bounds is not None:
        e = (
            e.crossJoin(F.broadcast(cell_bounds))
            .filter((cx1 >= F.col("pcx0")) & (cx0 <= F.col("pcx1"))
                    & (cy1 >= F.col("pcy0")) & (cy0 <= F.col("pcy1")))
            .drop("pcx0", "pcx1", "pcy0", "pcy1")
        )
    return (
        e.withColumn("cx", F.explode(F.sequence(cx0, cx1)))
        .withColumn("cy", F.explode(F.sequence(cy0, cy1)))
    )


def point_cells(points_df: DataFrame, cell_deg: float,
                lon: str = "lon", lat: str = "lat") -> DataFrame:
    return points_df.withColumns({
        "cx": F.floor((F.col(lon) + 180.0) / cell_deg),
        "cy": F.floor((F.col(lat) + 90.0) / cell_deg),
    })


CANDIDATE_SCHEMA = (
    "trip_id string, seq int, lon double, lat double, edge_id long, "
    "src long, dst long, frac double, px double, py double, dist_m double, "
    "emission long"
)


def edges_with_rows(edges_df: DataFrame,
                    num_partitions: int | None = None) -> DataFrame:
    """Edges with the canonical per-directed-edge index: dense 0-based rank
    over (edge_id, src, dst) — build_packed_graph sorts identically, so
    candidate ordering (and thus trellis tie-breaks) agrees across every
    candidate generator and every subgraph (a sorted subset preserves
    relative order).

    Scalable dense rank — NO global single-task ``Window.orderBy`` (that
    shape funnels the whole edge table through one task, the very failure
    the celljoin path exists to avoid). Recipe:

    1. PIN quantile cut points of ``edge_id`` driver-side (one
       approxQuantile pass). Pinned constants make the bucketing a pure
       row function shared by every downstream job — unlike
       ``repartitionByRange``, whose per-job reservoir re-sample puts
       boundary rows in different partitions across executions (measured:
       two runs of the same plan disagreed by ±7 rows/partition).
    2. Bucket every row with a vectorized searchsorted (Arrow-batched;
       buckets are monotone in the sort key, ~uniform by construction).
    3. Per-BUCKET counts from one map-side-combined aggregation; cumsum
       the ~4·n_part offsets driver-side (the only collect — a few KB).
    4. Hash-shuffle on bucket, sort within partitions, enumerate rows per
       bucket in one Arrow pass, add the broadcast bucket offset.

    Every step is a deterministic function of row values, so the counts
    job and the enumeration job agree no matter how tasks are scheduled.
    Ties beyond (edge_id, src, dst) can only be full-row duplicates —
    interchangeable, so the rank is well-defined."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType, StructField, StructType

    cols = ["edge_id", "src", "dst", "weight"]
    base = edges_df.select(*cols)
    spark = base.sparkSession
    if num_partitions is None:
        try:
            num_partitions = max(
                int(spark.conf.get("spark.sql.shuffle.partitions")), 1)
        except (TypeError, ValueError):  # "auto" on some builds
            num_partitions = spark.sparkContext.defaultParallelism
    n_buckets = num_partitions * 4
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = (base.stat.approxQuantile("edge_id", probs, 0.01)
            if n_buckets > 1 else [])
    bounds = np.array(sorted(set(cuts)), dtype=np.float64)

    @pandas_udf("int")
    def bucket_of(eid: pd.Series) -> pd.Series:
        b = np.searchsorted(bounds, eid.values.astype(np.float64), "left")
        return pd.Series(b.astype(np.int32))

    # Persist so the counts job and the enumeration job observe the SAME
    # rows even when edges_df is upstream-nondeterministic (sample,
    # round-robin repartition): both jobs read the materialized partitions
    # instead of re-executing the upstream plan. Bounded registry: repeated
    # calls (bench loops) don't accumulate session-lifetime cached copies.
    from routers_spark.functions.cache import bounded_persist

    bucketed = bounded_persist(
        base.withColumn("bucket", bucket_of("edge_id")), "edges_with_rows")

    counts = {int(r["bucket"]): int(r["cnt"])
              for r in bucketed.groupBy("bucket").agg(
                  F.count(F.lit(1)).alias("cnt")).collect()}
    offsets, acc = [], 0
    for b in sorted(counts):
        offsets.append((b, acc))
        acc += counts[b]
    offsets_df = spark.createDataFrame(offsets, "bucket int, offset long")

    part = (bucketed.repartition(num_partitions, "bucket")
            .sortWithinPartitions("bucket", "edge_id", "src", "dst"))
    out_schema = StructType(
        part.schema.fields + [StructField("local_row", LongType())])

    def enumerate_local(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen: dict[int, int] = {}
        for pdf in batches:
            grp = pdf.groupby("bucket", sort=False)
            local = grp.cumcount().values.astype(np.int64)
            sizes = grp.size()
            carry = {int(k): seen.get(int(k), 0) for k in sizes.index}
            local += pdf["bucket"].map(carry).values.astype(np.int64)
            for k, v in sizes.items():
                seen[int(k)] = seen.get(int(k), 0) + int(v)
            yield pdf.assign(local_row=local)

    local = part.mapInPandas(enumerate_local, schema=out_schema)
    return (
        local.join(F.broadcast(offsets_df), "bucket", "left")
        # Belt over the persist's suspenders: a bucket that appeared only in
        # the enumeration job (divergent recompute) fails loudly instead of
        # being silently dropped by an inner join. The guard lives INSIDE
        # the selected edge_row expression so column pruning can't drop it.
        .withColumn("edge_row", F.when(
            F.col("offset").isNotNull(),
            F.col("offset") + F.col("local_row")
        ).otherwise(F.raise_error(
            F.lit("edges_with_rows: bucket missing from counts pass"))))
        .select(*cols, "edge_row")
    )


def write_shards(edges_df: DataFrame, nodes_df: DataFrame, path: str,
                 cell_deg: float = 0.02, pad_m: float = 1000.0) -> None:
    """S5 shard file sink (generate-shards.rs:48-125): every edge lands in
    each cell whose ``pad_m``-padded bounds its bbox touches (the 1 km
    padding strip default, bin/generate-shards.rs:14), written
    ``partitionBy(cx, cy)`` — one directory per shard, endpoint coords
    embedded so a shard hydrates without the global nodes table. The
    parquet commit protocol is the manifest."""
    cover = edges_with_cover_cells(edges_with_rows(edges_df), nodes_df,
                                   cell_deg, pad_m=pad_m)
    (
        cover.select("cx", "cy", "edge_id", "edge_row", "src", "dst",
                     "weight", "ax", "ay", "bx", "by")
        .write.mode("overwrite").partitionBy("cx", "cy").parquet(path)
    )


def read_shard(spark, path: str, cx: int, cy: int):
    """Load one shard's (nodes, edges) pandas frames from the partitioned
    sink — the ShardedNetwork hydrate (network.rs:110-169: nodes recovered
    from admitted edges' endpoints). Feed to build_packed_graph."""
    pdf = (
        spark.read.parquet(path)
        .filter((F.col("cx") == cx) & (F.col("cy") == cy))
        .drop("cx", "cy")
        .toPandas()
        .sort_values("edge_row", kind="stable")
    )
    nodes = pd.DataFrame({
        "node_id": np.concatenate([pdf["src"].values, pdf["dst"].values]),
        "lon": np.concatenate([pdf["ax"].values, pdf["bx"].values]),
        "lat": np.concatenate([pdf["ay"].values, pdf["by"].values]),
    }).drop_duplicates("node_id")
    return nodes, pdf[["edge_id", "src", "dst", "weight", "edge_row"]]


def trip_subgraph_edges(points_df: DataFrame, nodes_df: DataFrame,
                        edges_df: DataFrame, pad_m: float,
                        cell_deg: float = 0.02) -> DataFrame:
    """Per-trip road subgraph: every edge whose ``pad_m``-padded bbox shares
    a coarse cell with any of the trip's points — the shard-build admit rule
    (P4/P5, selection.rs:52-96 / network.rs:110-169) applied per trip. With
    pad_m ≥ Dijkstra bound + search distance, every transition path of the
    trip lies inside the subgraph, so the solver needs NO global broadcast.

    The matcher's celljoin path uses :func:`sig_subgraph_edges` (the same
    admit rule keyed by cover signature, one shared subgraph per distinct
    cell set); this per-trip form is kept as the reference that
    tests/test_celljoin.py checks the per-signature form against, trip by
    trip.

    Output: (trip_id, edge_id, src, dst, weight, ax, ay, bx, by),
    deduplicated per (trip_id, edge_id, src, dst) — the natural edge key;
    no global rank is computed (see :func:`candidates_cell_join`). The
    coarse ``cell_deg`` (~2.2 km) keeps the edge-cover explosion factor
    ~O((2·pad/cell)²) ≈ 9."""
    base = edges_df.select("edge_id", "src", "dst", "weight")
    tcells = point_cells(
        points_df.select("trip_id", "lon", "lat"), cell_deg
    ).select("trip_id", "cx", "cy").distinct()
    cover = edges_with_cover_cells(base, nodes_df, cell_deg, pad_m=pad_m,
                                   cell_bounds=_cell_range_bounds(tcells))
    return (
        tcells.join(cover, ["cx", "cy"])
        .select("trip_id", "edge_id", "src", "dst", "weight",
                "ax", "ay", "bx", "by")
        .dropDuplicates(["trip_id", "edge_id", "src", "dst"])
    )


def _cell_range_bounds(cells_df: DataFrame) -> DataFrame:
    """ONE-row global cell range (pcx0, pcx1, pcy0, pcy1) of a (cx, cy)
    frame — the broadcastable prefilter input for
    :func:`edges_with_cover_cells`."""
    return cells_df.agg(
        F.min("cx").alias("pcx0"), F.max("cx").alias("pcx1"),
        F.min("cy").alias("pcy0"), F.max("cy").alias("pcy1"))


def trip_cover_sigs_cells(points_df: DataFrame,
                          cell_deg: float = 0.02) -> DataFrame:
    """(trip_id, cells, sig): each trip's sorted distinct coarse-cell set
    and its signature. Trips sharing a signature need the IDENTICAL
    subgraph, so the solver shares one graph per signature — the Spark
    analog of the reference's per-shard graphs (bin/matcher.rs:48-55).
    Built in ONE aggregation directly over the raw points —
    ``collect_set`` dedups, so no pre-``distinct`` exchange is paid (r6:
    the old tc-distinct → groupBy → re-join chain cost three exchanges
    over the point set per call). The carried ``cells`` array lets
    :func:`sig_subgraph_edges` derive (sig, cx, cy) from ONE tiny
    per-signature dedup instead of re-aggregating the points. The sig is
    an opaque grouping key — a 64-bit xxhash of the sorted "cx:cy" list
    (r6: the previous 64-CHAR sha2 hex string rode every candidate and
    subgraph row through two shuffles and the cogroup, ~8x the bytes of a
    LONG and a far slower group key). A hash collision is HARMLESS for
    results: it merges two cover groups, giving their trips the union of
    the two admitted edge sets — a superset subgraph, and any admit
    superset yields identical matches because the padding already covers
    every edge reachable within the Dijkstra bound (the same argument
    that makes per-trip vs per-sig grouping equivalent)."""
    pc = point_cells(points_df.select("trip_id", "lon", "lat"), cell_deg)
    agg = pc.groupBy("trip_id").agg(
        F.sort_array(F.collect_set(F.struct("cx", "cy"))).alias("cells"))
    return agg.withColumn(
        "sig",
        F.xxhash64(F.concat_ws(",", F.transform(
            "cells",
            lambda c: F.concat_ws(":", c.getField("cx").cast("string"),
                                  c.getField("cy").cast("string"))))))


def sig_subgraph_edges(points_df: DataFrame, nodes_df: DataFrame,
                       edges_df: DataFrame, pad_m: float,
                       cell_deg: float = 0.02,
                       sigs_cells: DataFrame | None = None,
                       edge_coords: DataFrame | None = None) -> DataFrame:
    """Shared subgraphs keyed by cover signature: every edge whose padded
    bbox shares a coarse cell with the signature's cell set (the P4/P5
    admit rule). Row volume scales with DISTINCT signatures — measured 60
    signatures for 1,000 fixture trips (16x less subgraph duplication than
    the per-trip form). Output: (sig, edge_id, src, dst, weight,
    ax, ay, bx, by), deduplicated per (sig, edge_id, src, dst) — the
    natural edge key; no global rank is computed (rationale in
    :func:`candidates_cell_join`).

    ``sigs_cells`` lets the caller share one
    :func:`trip_cover_sigs_cells` aggregation across this builder and the
    candidate→sig join (match_trips computes it once per call). Since all
    trips of a signature carry the IDENTICAL cell set (the sig is a hash
    of the set), (sig, cx, cy) comes from one per-sig dedup + explode of
    the carried array — no second pass over the points. The output is
    hash-partitioned by sig BEFORE the per-(sig, edge) dedup: hash(sig)
    clusters every dedup key (sig, edge_id, src, dst), so the aggregate
    runs in place AND the downstream per-sig cogroup reuses the same
    exchange — one shuffle of the subgraph table where the previous shape
    paid two (dedup-by-4-keys, then cogroup-by-sig)."""
    base = edges_df.select("edge_id", "src", "dst", "weight")
    if sigs_cells is None:
        sigs_cells = trip_cover_sigs_cells(points_df, cell_deg)
    sig_cells = (
        sigs_cells.select("sig", "cells").dropDuplicates(["sig"])
        .select("sig", F.explode("cells").alias("c"))
        .select("sig", F.col("c.cx").alias("cx"), F.col("c.cy").alias("cy"))
    )
    cover = edges_with_cover_cells(
        base, nodes_df, cell_deg, pad_m=pad_m,
        cell_bounds=None if edge_coords is not None
        else _cell_range_bounds(sig_cells),
        edge_coords=edge_coords)
    return (
        sig_cells.join(cover, ["cx", "cy"])
        .select("sig", "edge_id", "src", "dst", "weight",
                "ax", "ay", "bx", "by")
        .repartition("sig")
        .dropDuplicates(["sig", "edge_id", "src", "dst"])
    )


def candidates_cell_join(points_df: DataFrame, nodes_df: DataFrame,
                         edges_df: DataFrame,
                         search_m: float = DEFAULT_SEARCH_DISTANCE_M,
                         emission_error: float = DEFAULT_EMISSION_ERROR_M,
                         cell_deg: float = 0.002,
                         salt: int = 0,
                         edge_coords: DataFrame | None = None) -> DataFrame:
    """Stage A of the match lifecycle as a distributed cell equi-join
    (SURVEY §3.1): points join the padded edge cover on their single cell,
    a JVM bbox prefilter reproduces the square-box scan (X4 semantics via
    the projection refinement below), then ONE Arrow pass projects and
    prices every surviving pair (X6 + M2). Unanchored points are preserved
    as edge_id = -1 marker rows in BOTH miss classes: no cell-mates at all
    (the left join's null row) AND cell-mates that all fail the bbox
    refine (the reference's all-or-nothing contract, matcher/entity.rs:
    143-193, needs the layer to EXIST so the solver can reject the trip).
    The refine-fail marker is decided per Arrow batch — a point whose
    admitted rows live in another batch gets a spurious marker, which is
    inert by construction: every consumer builds candidate layers from
    edge_row >= 0 rows only, so a marker alongside >= 1 admitted row
    changes nothing, while a point with ZERO admitted rows anywhere keeps
    at least one marker and yields the empty layer that triggers
    unanchored. (A join-side left-anti marker would avoid the spurious
    rows but re-executes the join lineage; the in-batch decision costs
    <= 1 extra row per point per batch.)

    ``salt`` > 0 additionally splits hot cells: edges duplicate into
    ``salt`` sub-keys and each point picks one pseudo-randomly — the
    explicit skew-handling knob (north rule) on top of AQE's skew splits.

    Candidates identify their edge by the NATURAL key (edge_id, src, dst)
    — no global dense rank is computed anywhere on this path. The solver
    only needs an ordering that agrees with ``build_packed_graph``'s
    canonical (edge_id, src, dst) sort (trellis tie-breaks + the
    candidate→local-row remap), and the triple itself IS that ordering; a
    dense rank (the previous design) additionally cost one approxQuantile
    pass, one counts collect, and an enumeration shuffle over the FULL
    edge table per query — a driver-blocking extra scan that dominated
    celljoin wall time (13.5 s of 22 s at 362k edges / 200k points) and
    would be a full pass over a 100 TB edge table at scale. Rows that tie
    on the full triple can only be duplicate edges (same id, same
    endpoints) — interchangeable for matching, so the key is effectively
    unique. ``edges_with_rows`` (the rank) remains the SHARD FILE format's
    row id (write_shards), where it is computed once per build, not per
    query.
    """
    base = edges_df.select("edge_id", "src", "dst", "weight")
    pts = point_cells(points_df, cell_deg)
    edges_cover = edges_with_cover_cells(
        base, nodes_df, cell_deg, pad_m=search_m * 1.5 + 10.0,
        cell_bounds=None if edge_coords is not None
        else _cell_range_bounds(pts.select("cx", "cy")),
        edge_coords=edge_coords,
    )
    join_keys = ["cx", "cy"]
    if salt > 0:
        edges_cover = edges_cover.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        pts = pts.withColumn(
            "salt", F.pmod(F.hash("trip_id", "seq"), F.lit(salt))
        )
        join_keys = ["cx", "cy", "salt"]

    paired = pts.join(edges_cover, join_keys, "left")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            lon = pdf["lon"].values.astype(np.float64)
            lat = pdf["lat"].values.astype(np.float64)
            miss = pdf["edge_id"].isna().values
            ax = pdf["ax"].values.astype(np.float64)
            ay = pdf["ay"].values.astype(np.float64)
            bx = pdf["bx"].values.astype(np.float64)
            by = pdf["by"].values.astype(np.float64)
            min_lon, min_lat, max_lon, max_lat = square_box_np(lon, lat, search_m)
            hit = (
                ~miss
                & (np.minimum(ax, bx) <= max_lon) & (np.maximum(ax, bx) >= min_lon)
                & (np.minimum(ay, by) <= max_lat) & (np.maximum(ay, by) >= min_lat)
            )
            frac = np.full(len(pdf), np.nan)
            px = np.full(len(pdf), np.nan)
            py = np.full(len(pdf), np.nan)
            dist = np.full(len(pdf), np.nan)
            emis = np.full(len(pdf), -1, dtype=np.int64)
            if hit.any():
                f = line_locate_point_np(ax[hit], ay[hit], bx[hit], by[hit],
                                         lon[hit], lat[hit])
                ff = np.where(np.isnan(f), 0.0, f)
                hx, hy = point_at_ratio_np(ax[hit], ay[hit], bx[hit], by[hit], ff)
                d = haversine_m_np(hx, hy, lon[hit], lat[hit])
                frac[hit] = f
                px[hit] = hx
                py[hit] = hy
                dist[hit] = d
                emis[hit] = costing.emission_cost_u32(d, emission_error).astype(np.int64)
            # refine-dropped markers: first fail row per (trip_id, seq)
            # with no in-batch hit (spurious ones are inert — docstring)
            marker = np.zeros(len(pdf), dtype=bool)
            fail = ~miss & ~hit
            if fail.any():
                kdf = pd.DataFrame({"t": pdf["trip_id"].values,
                                    "s": pdf["seq"].values, "h": hit})
                no_hit = ~kdf.groupby(["t", "s"], sort=False)["h"] \
                    .transform("max").values.astype(bool)
                cand_idx = np.flatnonzero(fail & no_hit)
                if len(cand_idx):
                    dup = kdf.iloc[cand_idx].duplicated(["t", "s"]).values
                    marker[cand_idx[~dup]] = True
            unanchored = miss | marker
            keep = hit | unanchored
            out = pd.DataFrame({
                "trip_id": pdf["trip_id"].values,
                "seq": pdf["seq"].values.astype("int32"),
                "lon": lon, "lat": lat,
                "edge_id": np.where(unanchored, -1,
                                    pdf["edge_id"].fillna(-1).values).astype(np.int64),
                "src": np.where(unanchored, -1,
                                pdf["src"].fillna(-1).values).astype(np.int64),
                "dst": np.where(unanchored, -1,
                                pdf["dst"].fillna(-1).values).astype(np.int64),
                # frac/px/py/dist are NaN and emission -1 on every ~hit
                # row already, markers included
                "frac": frac, "px": px, "py": py, "dist_m": dist,
                "emission": emis,
            })
            yield out[keep]

    cols = ["trip_id", "seq", "lon", "lat", "edge_id", "src", "dst",
            "ax", "ay", "bx", "by"]
    return paired.select(*cols).mapInPandas(kernel, schema=CANDIDATE_SCHEMA)
