"""The workloads: inputs, one pass, the accuracy check, the domain counters
and the per-layer probes of the traced run.

Each pass calls the engine's public functions only. ``layer`` spans wrap
each call; every Spark job a call submits is labelled
``"<workload>:<layer>"`` so the event log can be folded per layer.
"""

from __future__ import annotations

import contextlib
import os
import pickle
import time
import types

import numpy as np
import pandas as pd

import inputs as I
import reference as R

MB = float(1 << 20)


class Workload:
    name = ""
    # nominal seconds of one pass on a 4-core host; only used to turn
    # --seconds into a fixed pass count
    nominal_pass_s = 1.0

    def __init__(self, tracer):
        self.tracer = tracer
        self.spark = None
        self.seconds: dict[str, float] = {}  # last duration per layer
        self._path: list[str] = []

    def _describe(self) -> None:
        self.spark.sparkContext.setJobDescription(
            f"{self.name}:{'/'.join(self._path)}" if self._path else None)

    @contextlib.contextmanager
    def layer(self, name: str):
        """Span ``name`` and label the Spark jobs submitted inside it
        ``"<workload>:<enclosing layers>/<name>"``."""
        self._path.append(name)
        self._describe()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                yield
        finally:
            self.seconds[name] = time.perf_counter() - t0
            self._path.pop()
            self._describe()

    def call(self, layer: str | None, build, action):
        """One public call: ``build`` (time inside the call, before any
        action) then ``action`` (the Spark action that runs it)."""
        with self.layer(layer) if layer else contextlib.nullcontext():
            with self.layer("spark.build"):
                df = build()
            with self.layer("spark.exec"):
                return action(df)

    def open(self, spark) -> None:
        self.spark = spark

    def written_bytes(self) -> int:
        """Bytes the workload has written to its warehouse so far."""
        return 0


def _checkpoint(df):
    return df.localCheckpoint(eager=True)


# ------------------------------------------------------------ map matching


class MatchBroadcast(Workload):
    name = "match_broadcast"
    n_trips = 800
    nominal_pass_s = 2.0
    kernel_sample = 60  # trips in the single-threaded kernel baseline

    def generate(self, seed: int, work: str) -> I.Inputs:
        nodes, edges = I.grid_network()
        trips = I.walk_trips(nodes, edges, self.n_trips, seed)
        fp = I.fingerprint([nodes, edges, trips])
        paths = {k: os.path.join(work, "inputs", k)
                 for k in ("nodes", "edges", "trips")}
        size = (I.write_parquet(nodes, paths["nodes"], 1)
                + I.write_parquet(edges, paths["edges"], 1)
                + I.write_parquet(trips.drop(columns="node_id"),
                                  paths["trips"], 4))
        n_eid = int(edges["edge_id"].max()) + 1
        ends = np.full((n_eid, 2), -1, dtype=np.int64)
        ends[edges["edge_id"].values, 0] = edges["src"].values
        ends[edges["edge_id"].values, 1] = edges["dst"].values
        self.nodes_pdf, self.edges_pdf, self.trips_pdf = nodes, edges, trips
        self.ends = ends
        return I.Inputs(paths, units=len(trips),
                        rows=len(nodes) + len(edges) + len(trips),
                        mb=size / MB, fingerprint=fp)

    def open(self, spark) -> None:
        super().open(spark)
        p = self.inputs.paths
        self.nodes = spark.read.parquet(p["nodes"])
        self.edges = spark.read.parquet(p["edges"])
        self.trips = spark.read.parquet(p["trips"])

    def run_pass(self) -> pd.DataFrame:
        from routers_spark.matching import match_trips

        return self.call(
            None,
            lambda: match_trips(self.trips, self.nodes, self.edges,
                                candidate_path="broadcast"),
            lambda df: df.select("trip_id", "seq", "edge_id",
                                 "status").toPandas())

    def check(self, out: pd.DataFrame) -> tuple[int, int]:
        """(correct points, failed points). A point is correct when its
        matched edge touches the node its walk generated it from; every
        point of a trip whose status is not ``matched`` has failed."""
        n = len(self.trips_pdf)
        status = out.groupby("trip_id")["status"].first()
        bad_trips = status.index[status.values != "matched"]
        failed = int(self.trips_pdf["trip_id"].isin(bad_trips).sum())
        rows = out[(out["status"] == "matched") & (out["seq"] >= 0)]
        tnum = rows["trip_id"].str.slice(4).astype(np.int64).values
        idx = tnum * I.POINTS_PER_TRIP + rows["seq"].values
        eid = rows["edge_id"].values
        ok_range = (idx >= 0) & (idx < n) & (eid >= 0) & (eid < len(self.ends))
        idx, eid = idx[ok_range], eid[ok_range]
        node = self.trips_pdf["node_id"].values[idx]
        hit = (self.ends[eid, 0] == node) | (self.ends[eid, 1] == node)
        correct = np.zeros(n, dtype=bool)
        correct[idx[hit]] = True
        # a point emitted twice with different edges is not trusted
        dup = np.bincount(idx, minlength=n) > 1
        return int((correct & ~dup).sum()), failed

    def counters(self, out: pd.DataFrame) -> dict:
        status = out.groupby("trip_id")["status"].first()
        matched = int((status == "matched").sum())
        return {"matching.trips_matched": matched,
                "matching.trips_unmatched": int(len(status) - matched)}

    def probe(self) -> dict:
        """Layer probes run after the traced passes: each public call on
        its own, materialised, timed in its own span."""
        m = self._kernel_probe()
        m.update(self._graph_probe())
        m.update(self._shard_probe())
        return m

    def _kernel_probe(self) -> dict:
        """Single-threaded in-process baseline: candidate search + solve on
        a fixed trip sample, against a freshly hydrated graph (cold
        predicate cache, as in a pass)."""
        from routers_spark.graph.packed import build_packed_graph, hydrate
        from routers_spark.matching.matcher import (
            MatchOptions,
            candidates_for_points,
            solve_trip,
        )

        opts = MatchOptions()
        g = hydrate(types.SimpleNamespace(
            value=build_packed_graph(self.nodes_pdf, self.edges_pdf)
            .to_broadcastable()), f"perfbench-{time.monotonic_ns()}")
        step = max(1, self.n_trips // self.kernel_sample)
        sample = self.trips_pdf[
            self.trips_pdf["trip_id"].str.slice(4).astype(int) % step == 0]
        groups = [(t["lon"].values, t["lat"].values)
                  for _, t in sample.groupby("trip_id", sort=True)]
        with self.layer("matching.candidates"):
            layers = [candidates_for_points(g, lo, la, opts.search_distance,
                                            opts.emission_error)
                      for lo, la in groups]
        with self.layer("matching.solve"):
            for ly in layers:
                solve_trip(g, ly, opts)
        widths = [len(c["edge_row"]) for ly in layers for c in ly]
        busy = self.seconds["matching.candidates"] + self.seconds["matching.solve"]
        return {
            "matching.candidates_per_point": float(np.mean(widths)),
            "matching.kernel_rows_per_s": len(sample) / busy,
        }

    def _graph_probe(self) -> dict:
        from routers_spark.graph.packed import build_packed_graph, hydrate

        with self.layer("graph.collect"):
            nodes = self.nodes.toPandas()
            edges = self.edges.toPandas()
        with self.layer("graph.pack"):
            payload = build_packed_graph(nodes, edges).to_broadcastable()
        blob = pickle.dumps(payload, protocol=pickle.HIGHEST_PROTOCOL)
        with self.layer("graph.hydrate"):
            hydrate(types.SimpleNamespace(value=pickle.loads(blob)),
                    f"perfbench-{time.monotonic_ns()}")
        return {"graph.broadcast_mb": len(blob) / MB}

    def _shard_probe(self) -> dict:
        from routers_spark.config import (
            DEFAULT_EMISSION_ERROR_M,
            DEFAULT_SEARCH_DISTANCE_M,
            DIJKSTRA_BOUND_CM,
        )
        from routers_spark.shard.partition import (
            admitted_edge_coords,
            candidates_cell_join,
            sig_subgraph_edges,
            trip_cover_sigs_cells,
        )

        # the arguments match_trips(candidate_path="celljoin") passes
        pad_m = DIJKSTRA_BOUND_CM / 100.0 + DEFAULT_SEARCH_DISTANCE_M * 1.5 + 50.0
        edges4 = self.edges.select("edge_id", "src", "dst", "weight")
        ec = self.call("shard.edge_coords", lambda: admitted_edge_coords(
            edges4, self.nodes, self.trips, pad_m=pad_m, cell_deg=0.02),
            _checkpoint)
        sigs = self.call("shard.cover",
                         lambda: trip_cover_sigs_cells(self.trips),
                         _checkpoint)
        self.call("shard.candidates", lambda: candidates_cell_join(
            self.trips, self.nodes, self.edges,
            search_m=DEFAULT_SEARCH_DISTANCE_M,
            emission_error=DEFAULT_EMISSION_ERROR_M, edge_coords=ec),
            _checkpoint)
        sub = self.call("shard.subgraph", lambda: sig_subgraph_edges(
            self.trips, self.nodes, self.edges, pad_m=pad_m,
            sigs_cells=sigs, edge_coords=ec), _checkpoint)
        per_sig = sigs.groupBy("sig").count().toPandas()["count"]
        n_sigs = max(len(per_sig), 1)
        return {
            "shard.sigs": float(len(per_sig)),
            "shard.largest_sig_share": float(per_sig.max() / per_sig.sum()),
            "shard.subgraph_edges_per_sig": sub.count() / n_sigs,
        }


# ----------------------------------------------------------------- tiling


class GeoImages(Workload):
    name = "geo_images"
    n_images = 810  # 45 images of each size x format combination
    tile_zoom = 16
    mvt_zoom = 14
    base_zoom = 19
    levels = 2
    nominal_pass_s = 6.0

    def generate(self, seed: int, work: str) -> I.Inputs:
        images, pixels = I.generate_images(self.n_images, seed)
        fp = I.fingerprint([images])
        path = os.path.join(work, "inputs", "images")
        size = I.write_parquet(images, path, 8)
        self.warehouse = os.path.join(work, "warehouse")
        self.images_pdf = images
        lon, lat = images["lon"].values, images["lat"].values
        tx, ty = R.slippy_xy(lon, lat, self.tile_zoom)
        mx, my = R.slippy_xy(lon, lat, self.mvt_zoom)
        mvt = pd.Series(1, index=pd.MultiIndex.from_arrays([mx, my])) \
            .groupby(level=[0, 1]).sum()
        self.ref = {
            "tile": (tx, ty),
            "zone": np.array(R.zone_of(lon, lat, I.ZONES), dtype=object),
            "mvt_xy": (mx, my), "mvt_count": mvt,
            "pyramid": [R.box_pyramid(p, self.levels) for p in pixels],
            "pyr_xy": [R.slippy_xy(lon, lat, self.base_zoom - lv)
                       for lv in range(self.levels + 1)],
            "lossy": (images["fmt"] == "jpeg").values,
        }
        return I.Inputs({"images": path}, units=len(images), rows=len(images),
                        mb=size / MB, fingerprint=fp)

    def open(self, spark) -> None:
        super().open(spark)
        self.images = spark.read.parquet(self.inputs.paths["images"])

    def _assign(self):
        from routers_spark.tiling.pipeline import assign_tile_cells

        return assign_tile_cells(self.images.select("image_id", "lon", "lat"),
                                 zoom=self.tile_zoom, gh_precision=6,
                                 keep=["image_id", "lon", "lat"])

    def _zones(self, df):
        from routers_spark.zones.pip import assign_zones

        return assign_zones(df, I.ZONES)

    def _pyramid(self):
        from routers_spark.tiling.pipeline import raster_pyramid

        return raster_pyramid(self.images, base_zoom=self.base_zoom,
                              levels=self.levels)

    def _commit(self, table: str):
        from routers_spark.io.checkpoint import write_snapshot

        return lambda df: write_snapshot(df, self.warehouse, table)

    def run_pass(self) -> dict:
        """assign_tile_cells -> assign_zones and raster_pyramid, each chain
        committed by one write_snapshot (the per-call times come from
        :meth:`probe`)."""
        from routers_spark.io.checkpoint import read_snapshot
        from routers_spark.tiling.pipeline import mvt_point_tiles

        wh = self.warehouse
        self.call("tiles.commit", lambda: self._zones(self._assign()),
                  self._commit("tiles"))
        mvt = self.call("tiling.mvt", lambda: mvt_point_tiles(
            self.images.select("image_id", "lon", "lat"), self.mvt_zoom),
            lambda df: df.select("z", "x", "y", "n_points").toPandas())
        self.call("pyramid.commit", self._pyramid, self._commit("pyramid"))
        with self.layer("io.snapshot_read"):
            tiles = read_snapshot(self.spark, wh, "tiles").toPandas()
            pyr = read_snapshot(self.spark, wh, "pyramid").toPandas()
        return {"tiles": tiles, "mvt": mvt, "pyramid": pyr}

    def check(self, out: dict) -> tuple[int, int]:
        """(correct images, failed images). An image is correct when its
        tile x/y, zone, MVT tile count and every pyramid level (tile key,
        size, pixels: exact for PNG sources, >= the PSNR floor for JPEG)
        match the reference; it has failed when it is missing from the
        tile or the pyramid output."""
        n = self.n_images
        ok = np.zeros(n, dtype=bool)
        seen_t = np.zeros(n, dtype=bool)
        tiles = out["tiles"]
        ti = tiles["image_id"].str.slice(3).astype(np.int64).values
        tx, ty = self.ref["tile"]
        zone = self.ref["zone"][ti]
        got_zone = tiles["zone_id"].values
        same_zone = np.array([a == b for a, b in zip(got_zone, zone)], bool)
        good = ((tiles["tile_x"].values == tx[ti])
                & (tiles["tile_y"].values == ty[ti]) & same_zone)
        ok[ti[good]] = True
        seen_t[ti] = True
        ok &= np.bincount(ti, minlength=n) == 1

        mvt = out["mvt"].set_index(["x", "y"])["n_points"]
        mvt = mvt.reindex(self.ref["mvt_count"].index)
        tile_ok = (mvt.values == self.ref["mvt_count"].values)
        tile_ok = pd.Series(tile_ok, index=self.ref["mvt_count"].index)
        mx, my = self.ref["mvt_xy"]
        ok &= tile_ok.reindex(pd.MultiIndex.from_arrays([mx, my])).values \
            & (int(out["mvt"]["n_points"].sum()) == n)

        levels = np.zeros(n, dtype=np.int64)
        pyr = out["pyramid"]
        pi = pyr["image_id"].str.slice(3).astype(np.int64).values
        np.add.at(levels, pi, 1)
        bad = np.zeros(n, dtype=bool)
        for i, lv, z, x, y, blob in zip(pi, pyr["level"].values,
                                        pyr["z"].values, pyr["x"].values,
                                        pyr["y"].values, pyr["tile_png"].values):
            if not 0 <= lv <= self.levels or bad[i]:
                bad[i] = True
                continue
            rx, ry = self.ref["pyr_xy"][lv]
            want = self.ref["pyramid"][i][lv]
            got = R.png_pixels(bytes(blob))
            if (z != self.base_zoom - lv or x != rx[i] or y != ry[i]
                    or got is None or got.shape != want.shape):
                bad[i] = True
            elif self.ref["lossy"][i]:
                bad[i] |= R.psnr_db(got, want) < R.JPEG_PSNR_FLOOR_DB
            else:
                bad[i] |= not np.array_equal(got, want)
        ok &= (levels == self.levels + 1) & ~bad
        failed = int((~seen_t | (levels == 0)).sum())
        return int(ok.sum()), failed

    def counters(self, out: dict) -> dict:
        return {
            "tiling.tiles_per_image": len(out["pyramid"]) / self.n_images,
            "zones.hit_ratio": float(out["tiles"]["zone_id"].notna().mean()),
        }

    def probe(self) -> dict:
        """Layer probes run after the traced passes: each public call the
        pass chains, materialised on its own; the snapshot write of the
        materialised frames; then in-process single-threaded function
        kernels on the corpus (image decode, the cell/tile encoders)."""
        tiles = self.call("tiling.assign", self._assign, _checkpoint)
        zoned = self.call("zones.assign", lambda: self._zones(tiles),
                          _checkpoint)
        pyr = self.call("tiling.pyramid", self._pyramid, _checkpoint)
        with self.layer("io.snapshot_write"):
            self._commit("probe_tiles")(zoned)
            self._commit("probe_pyramid")(pyr)
        from routers_spark.functions.cells import (
            geohash_str_np,
            hilbert_xy2h_np,
            slippy_xy_np,
        )
        from routers_spark.functions.raster import decode_image

        blobs = self.images_pdf["bytes"].tolist()
        fmts = self.images_pdf["fmt"].tolist()
        with self.layer("functions.decode"):
            for b, f in zip(blobs, fmts):
                decode_image(b, f)
        lon = self.images_pdf["lon"].values
        lat = self.images_pdf["lat"].values
        with self.layer("functions.cells"):
            geohash_str_np(lon, lat, 6)
            x, y = slippy_xy_np(lon, lat, self.tile_zoom)
            hilbert_xy2h_np(x, y, self.tile_zoom)
        return {"functions.decode_mb": sum(map(len, blobs)) / MB}

    def written_bytes(self) -> int:
        total = 0
        for d, _, files in os.walk(self.warehouse):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return total


WORKLOADS = {w.name: w for w in (MatchBroadcast, GeoImages)}
