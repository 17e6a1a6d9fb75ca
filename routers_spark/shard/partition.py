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
ONE vectorized Arrow pass over the joined pairs. Edges are identified by
their natural (edge_id, src, dst) key throughout — the order
``build_packed_graph`` sorts by — so no edge rank is computed.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from routers_spark.config import DEFAULT_EMISSION_ERROR_M, DEFAULT_SEARCH_DISTANCE_M, M_PER_DEG
from routers_spark.functions.geo import square_box_np
from routers_spark.matching import costing


def admitted_edge_coords(edges_df: DataFrame, nodes_df: DataFrame,
                         points_df: DataFrame, pad_m: float,
                         cell_deg: float,
                         lon: str = "lon", lat: str = "lat") -> DataFrame:
    """The region prune every cover of one match call is fed from: edges
    with their endpoint coordinates attached, (edge_id, src, dst, weight,
    ax, ay, bx, by), kept when the ``pad_m``-padded bbox, expanded by one
    ``cell_deg`` (the cell-quantization slack), overlaps the points'
    global lon/lat range — the reference's shard locality (a matcher only hydrates the
    shards its trips touch, bin/matcher.rs:48-55) applied to the cover
    build. Strict superset of any per-cover cell-range admit with pad ≤
    pad_m and grid ≥ cell_deg — so the caller can compute this ONCE with
    the widest pad/coarsest grid and feed every cover from it, paying the
    full-edge-table scan once per query instead of once per cover. One
    broadcast 1-row aggregate; no driver jobs."""
    n = nodes_df.select(
        F.col("node_id"), F.col("lon").alias("n_lon"),
        F.col("lat").alias("n_lat"))
    e = (
        edges_df.select("edge_id", "src", "dst", "weight")
        .join(n.withColumnRenamed("node_id", "src"), "src")
        .withColumnsRenamed({"n_lon": "ax", "n_lat": "ay"})
        .join(n.withColumnRenamed("node_id", "dst"), "dst")
        .withColumnsRenamed({"n_lon": "bx", "n_lat": "by"})
    )
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


def edges_with_cover_cells(edge_coords: DataFrame, cell_deg: float,
                           pad_m: float) -> DataFrame:
    """Edge rows exploded to covered (cx, cy) cells: bbox of the edge's
    endpoints expanded by ``pad_m`` (equirectangular °/m, cos-lat corrected
    — selection.rs:16-29), floored onto the world-anchored grid.
    ``edge_coords`` carries (edge_id, src, dst, weight, ax, ay, bx, by),
    normally the :func:`admitted_edge_coords` prune of one match call."""
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
    return (
        edge_coords.withColumn("cx", F.explode(F.sequence(cx0, cx1)))
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
    paid two (dedup-by-4-keys, then cogroup-by-sig). ``edge_coords``
    (optional) is the call's shared :func:`admitted_edge_coords` prune;
    None builds it here for this pad and grid."""
    if sigs_cells is None:
        sigs_cells = trip_cover_sigs_cells(points_df, cell_deg)
    if edge_coords is None:
        edge_coords = admitted_edge_coords(edges_df, nodes_df, points_df,
                                           pad_m=pad_m, cell_deg=cell_deg)
    sig_cells = (
        sigs_cells.select("sig", "cells").dropDuplicates(["sig"])
        .select("sig", F.explode("cells").alias("c"))
        .select("sig", F.col("c.cx").alias("cx"), F.col("c.cy").alias("cy"))
    )
    cover = edges_with_cover_cells(edge_coords, cell_deg, pad_m=pad_m)
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
                         edge_coords: DataFrame | None = None,
                         costing_strategies=None) -> DataFrame:
    """Stage A of the match lifecycle as a distributed cell equi-join
    (SURVEY §3.1): points join the padded edge cover on their single cell,
    a JVM bbox prefilter reproduces the square-box scan (X4 semantics via
    the projection refinement below), then ONE Arrow pass projects and
    prices every surviving pair (X6 + M2) with
    :func:`costing.project_candidates` — the broadcast path's kernel —
    under the emission strategy of ``costing_strategies`` (a
    ``CostingStrategies``; None = reference defaults). Unanchored points
    are preserved as edge_id = -1 marker rows in BOTH miss classes: no
    cell-mates at all (the left join's null row) AND cell-mates that all
    fail the bbox refine (the reference's all-or-nothing contract,
    matcher/entity.rs:143-193, needs the layer to EXIST so the solver can
    reject the trip). The refine-fail marker is decided per Arrow batch —
    a point whose admitted rows live in another batch gets a spurious
    marker, which is inert by construction: every consumer builds
    candidate layers from edge_row >= 0 rows only, so a marker alongside
    >= 1 admitted row changes nothing, while a point with ZERO admitted
    rows anywhere keeps at least one marker and yields the empty layer
    that triggers unanchored. (A join-side left-anti marker would avoid
    the spurious rows but re-executes the join lineage; the in-batch
    decision costs <= 1 extra row per point per batch.)

    ``salt`` > 0 additionally splits hot cells: edges duplicate into
    ``salt`` sub-keys and each point picks one pseudo-randomly — the
    explicit skew-handling knob (north rule) on top of AQE's skew splits.

    Candidates identify their edge by the NATURAL key (edge_id, src, dst),
    the only edge identity on this path. ``build_packed_graph`` sorts by
    the same triple, so the trellis tie-breaks and the solver's
    candidate→local-row remap agree with the broadcast path with no rank
    computed; a global dense rank would cost a quantile pass, a counts
    collect and an enumeration shuffle over the whole edge table per
    query. Rows that tie on the full triple can only be duplicate edges
    (same id, same endpoints), interchangeable for matching.

    ``edge_coords`` (optional): the call's shared
    :func:`admitted_edge_coords` prune; None builds it here for this
    cover's pad and grid.
    """
    pad_m = search_m * 1.5 + 10.0
    if edge_coords is None:
        edge_coords = admitted_edge_coords(edges_df, nodes_df, points_df,
                                           pad_m=pad_m, cell_deg=cell_deg)
    pts = point_cells(points_df, cell_deg)
    edges_cover = edges_with_cover_cells(edge_coords, cell_deg, pad_m=pad_m)
    estrat = (costing_strategies.emission
              if costing_strategies is not None else None)
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
                (frac[hit], px[hit], py[hit], dist[hit],
                 emis[hit]) = costing.project_candidates(
                    ax[hit], ay[hit], bx[hit], by[hit], lon[hit], lat[hit],
                    emission_error, estrat)
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
