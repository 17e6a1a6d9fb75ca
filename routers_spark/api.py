"""The reference's RPC surface (S11) as DataFrame → DataFrame functions.

Each connectrpc service method becomes a plain function over DataFrames
(schema/proto/routers/api/**; impls libs/routers_rpc/src/services/):

  - ``nearest_points``   ≙ ScanService.Point — nearest NODE snap
    (proximity.rs:24-48, min-by planar d²)
  - ``snap_points``      ≙ ScanService.PointSnapped — nearest PROJECTED
    candidate: projected scan within the square box, sorted by haversine,
    first (proximity.rs:50-93; stable sort → ties keep candidate order)
  - ``route_points``     ≙ OptimiseService.Route — snap endpoints to nodes,
    Dijkstra between them (optimise.rs:19-55, route.rs:21-34; the
    reference's A* runs a zero heuristic, graph.rs:364-385)
  - timezone surface     ≙ TimezoneService (timezone/v1/service.proto:7-24):
    point lookups via zones.pip/zones.cells; bbox + polygon lookups (and
    their batch forms — a DataFrame IS the batch form) via
    zones.boxes.zones_for_boxes / zones_for_polygons, offering both the
    basic backend's contains semantics and the rtree/s2cell center
    resolution

The graph goes to the workers through ``graph.packed.broadcast_graph``
(the north-rule shape): one broadcast per distinct graph per session,
shared with ``match_trips``, hydrated once per worker. Points stream
through Arrow batches with no shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from routers_spark.config import DEFAULT_SEARCH_DISTANCE_M
from routers_spark.functions.ragged import ragged_argmin
from routers_spark.graph.packed import broadcast_graph


def snap_points(points_df: DataFrame, nodes_df: DataFrame, edges_df: DataFrame,
                search_m: float = DEFAULT_SEARCH_DISTANCE_M,
                lon: str = "lon", lat: str = "lat",
                keep: list[str] | None = None) -> DataFrame:
    """PointSnapped: per point the nearest projected on-edge position
    within the square-box scan; NULLs when nothing anchors
    (proximity.rs:50-93)."""
    keep = keep or [c for c in points_df.columns if c not in (lon, lat)]
    handle = broadcast_graph(nodes_df, edges_df)
    out_fields = [f for f in points_df.schema.fields if f.name in keep + [lon, lat]]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out_fields)
    schema += (", edge_id long, snap_lon double, snap_lat double, "
               "frac double, dist_m double")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        g = handle.graph()
        for pdf in batches:
            yield pdf[[f.name for f in out_fields]].assign(**nearest_on_edges(
                g, pdf[lon].values, pdf[lat].values, search_m))

    return points_df.mapInPandas(run, schema=schema)


def nearest_on_edges(graph, lons, lats, search_m: float) -> dict:
    """Per point its nearest candidate (edge_id, snap_lon, snap_lat, frac,
    dist_m): the first minimum of ``dist_m`` over the point's candidates
    in candidate order, the stable-sort head; edge_id -1 and NaNs for a
    point without candidates."""
    from routers_spark.matching.matcher import _candidate_table

    off, cand = _candidate_table(graph, lons, lats, search_m, 25.0)
    j = ragged_argmin(off, cand["dist_m"])
    has = j >= 0
    j = j[has]
    out = {"edge_id": np.full(len(has), -1, dtype=np.int64)}
    out["edge_id"][has] = graph.edge_id[cand["edge_row"][j]]
    for k, c in (("snap_lon", "px"), ("snap_lat", "py"), ("frac", "frac"),
                 ("dist_m", "dist_m")):
        out[k] = np.full(len(has), np.nan)
        out[k][has] = cand[c][j]
    return out


def nearest_points(points_df: DataFrame, nodes_df: DataFrame,
                   edges_df: DataFrame, lon: str = "lon", lat: str = "lat",
                   keep: list[str] | None = None) -> DataFrame:
    """Point: nearest node by planar squared distance (X7 snap;
    composite/network.rs:155-165 min-by semantics; ties → lowest dense
    index = lowest node id)."""

    keep = keep or [c for c in points_df.columns if c not in (lon, lat)]
    handle = broadcast_graph(nodes_df, edges_df)
    out_fields = [f for f in points_df.schema.fields if f.name in keep + [lon, lat]]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out_fields)
    schema += ", node_id long, node_lon double, node_lat double"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        g = handle.graph()
        for pdf in batches:
            # ring-expansion 1-NN over the node cell buckets: per-point cost
            # tracks local density, not node count (vs the former dense
            # (points × nodes) distance matrix — O(n_nodes) per point)
            idx = g.nearest_nodes(pdf[lon].values.astype(np.float64),
                                  pdf[lat].values.astype(np.float64))
            out = pdf[[f.name for f in out_fields]].copy()
            out["node_id"] = g.node_ids[idx]
            out["node_lon"] = g.node_lon[idx]
            out["node_lat"] = g.node_lat[idx]
            yield out

    return points_df.mapInPandas(run, schema=schema)


ROUTE_SCHEMA = ("req_id long, seq int, node_id long, lon double, lat double, "
                "total_weight long, status string")


def route_points(pairs_df: DataFrame, nodes_df: DataFrame,
                 edges_df: DataFrame) -> DataFrame:
    """Route: snap both endpoints to their nearest nodes, run Dijkstra
    between them over raw edge weights, explode the node path
    (route.rs:21-34 route_points = nearest_node ×2 + route_nodes).
    pairs_df: (req_id, lon_a, lat_a, lon_b, lat_b). Unroutable pairs emit
    one status='unreachable' row."""
    from routers_spark.graph.dijkstra import route_nodes

    handle = broadcast_graph(nodes_df, edges_df)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        g = handle.graph()
        for pdf in batches:
            # snap BOTH endpoints for the whole batch in one ring-1-NN pass
            snap_a = g.nearest_nodes(pdf["lon_a"].values, pdf["lat_a"].values)
            snap_b = g.nearest_nodes(pdf["lon_b"].values, pdf["lat_b"].values)
            rows = []
            for i, r in enumerate(pdf.itertuples(index=False)):
                a, b = int(snap_a[i]), int(snap_b[i])
                res = route_nodes(g, a, b)
                if res is None:
                    rows.append((int(r.req_id), -1, -1, np.nan, np.nan, -1,
                                 "unreachable"))
                    continue
                path, cost = res
                for s, ni in enumerate(path):
                    rows.append((int(r.req_id), s, int(g.node_ids[ni]),
                                 float(g.node_lon[ni]), float(g.node_lat[ni]),
                                 int(cost), "routed"))
            yield pd.DataFrame(rows, columns=[
                "req_id", "seq", "node_id", "lon", "lat", "total_weight",
                "status"])

    return pairs_df.mapInPandas(run, schema=ROUTE_SCHEMA)


def edge_lookup(pairs_df: DataFrame, edges_df: DataFrame,
                src: str = "src", dst: str = "dst") -> DataFrame:
    """ScanService.Edge ≙ G2 ``edge(a, b) -> Option<Edge>``
    (graph.rs:346-355; RPC surface scan/v1/service.proto): hydrate each
    (src, dst) node pair to its directed edge via a broadcast hash join —
    NULL edge columns when no edge connects the pair (Option::None).
    The edge table is the broadcast side (dimension-sized); the request
    stream never shuffles. Parallel edges (two ways between the same node
    pair, or a fwd edge plus another way's reversed twin) collapse to ONE
    row per (src, dst) — min(struct(edge_id, weight)), matching the
    at-most-one Option<Edge> of the reference's GraphMap edge_weight
    (graph.rs:346-355) and the compiled kernel's edge lookup (the lowest
    edge row from a to b wins under the canonical sort)."""
    from pyspark.sql import functions as F

    e = (edges_df.select(
            F.col("src").alias(src), F.col("dst").alias(dst),
            F.col("edge_id"), F.col("weight"))
         .groupBy(src, dst)
         .agg(F.min(F.struct("edge_id", "weight")).alias("_e"))
         .select(src, dst, F.col("_e.edge_id").alias("edge_id"),
                 F.col("_e.weight").alias("weight")))
    return pairs_df.join(F.broadcast(e), [src, dst], "left")
