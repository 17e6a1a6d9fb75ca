"""Seeded input generators for the workloads, plus input pinning.

Everything the engine reads is generated here from ``--seed`` and written
to parquet before the Spark session starts, so input generation never falls
inside ``setup_s`` or a timed pass. The generators are the benchmark's own
(walks, pixels, zones). Two pieces are borrowed from the program: the road
grid (``routers_spark.fixtures.roads.grid_network``) and the image encoder
(``routers_spark.functions.raster.encode_image`` — PIL is not a
dependency). The input fingerprints pinned in ``fingerprints.json`` cover
both, and :func:`encoder_probe` pins the encoder on fixed images, so a
changed borrowed piece fails loudly instead of silently changing the
workload.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")

# road grid of the match workload, also the image corpus extent
GRID_N = 40
SPACING_DEG = 0.002
LON0, LAT0 = -118.5, 33.7
JITTER_DEG = 0.0003
POINTS_PER_TRIP = 10

IMAGE_SIZES = (16, 32, 64)
CAPTION_WORDS = (
    "street corner signal vehicle crossing bridge junction avenue market "
    "station plaza harbor tunnel overpass boulevard alley terminal depot"
).split()

# fixed zone polygons over the grid extent (seed-independent): convex and
# concave rings, one overlapping another so first-match order matters
ZONES = [
    {"zone_id": "west", "ring": [(-118.499, 33.701), (-118.470, 33.701),
                                 (-118.470, 33.740), (-118.499, 33.740)]},
    {"zone_id": "notch", "ring": [(-118.475, 33.705), (-118.440, 33.705),
                                  (-118.440, 33.770), (-118.458, 33.770),
                                  (-118.458, 33.730), (-118.475, 33.730)]},
    {"zone_id": "tri", "ring": [(-118.498, 33.745), (-118.455, 33.776),
                                (-118.498, 33.776)]},
    {"zone_id": "east", "ring": [(-118.436, 33.702), (-118.424, 33.702),
                                 (-118.424, 33.776), (-118.436, 33.776)]},
]


@dataclass
class Inputs:
    """Generated inputs of one run: parquet paths, the number of units one
    pass processes (points or images), sizes and the fingerprint."""
    paths: dict
    units: int
    rows: int
    mb: float
    fingerprint: str


# ------------------------------------------------------------------ roads


def grid_network() -> tuple[pd.DataFrame, pd.DataFrame]:
    """The program's grid fixture: GRID_N x GRID_N two-way streets (both
    directions of a street share one edge_id) plus sparse diagonals."""
    from routers_spark.fixtures.roads import grid_network

    return grid_network(GRID_N, SPACING_DEG, LON0, LAT0)


def _adjacency(nodes: pd.DataFrame, edges: pd.DataFrame) -> list[np.ndarray]:
    order = np.argsort(edges["src"].values, kind="stable")
    src = edges["src"].values[order]
    dst = edges["dst"].values[order]
    cuts = np.searchsorted(src, np.arange(len(nodes) + 1))
    return [dst[cuts[k]:cuts[k + 1]] for k in range(len(nodes))]


def walk_trips(nodes: pd.DataFrame, edges: pd.DataFrame, n_trips: int,
               seed: int) -> pd.DataFrame:
    """Forward random walks (no immediate backtracking), one jittered GPS
    point per visited node. ``node_id`` records the generating node — the
    accuracy reference."""
    rng = np.random.default_rng(seed)
    adj = _adjacency(nodes, edges)
    lon = nodes["lon"].values
    lat = nodes["lat"].values
    cols = {k: [] for k in ("trip_id", "seq", "node_id")}
    for t in range(n_trips):
        cur, prev = int(rng.integers(0, len(nodes))), -1
        for s in range(POINTS_PER_TRIP):
            cols["trip_id"].append(f"trip{t:06d}")
            cols["seq"].append(s)
            cols["node_id"].append(cur)
            nxt = adj[cur]
            fwd = nxt[nxt != prev]
            choices = fwd if len(fwd) else nxt
            prev, cur = cur, int(choices[rng.integers(0, len(choices))])
    node = np.asarray(cols["node_id"], dtype=np.int64)
    n = len(node)
    return pd.DataFrame({
        "trip_id": cols["trip_id"],
        "seq": np.asarray(cols["seq"], dtype=np.int32),
        "lon": lon[node] + rng.uniform(-JITTER_DEG, JITTER_DEG, n),
        "lat": lat[node] + rng.uniform(-JITTER_DEG, JITTER_DEG, n),
        "ts_us": np.asarray(cols["seq"], dtype=np.int64) * 1_000_000,
        "node_id": node,
    })


# ----------------------------------------------------------------- images


def smooth_pixels(rng: np.random.Generator, h: int, w: int) -> np.ndarray:
    """Low-frequency RGB content (photo-like, so the lossy codec stays
    above the PSNR gate and PNG compresses as it would on real tiles)."""
    yy, xx = np.mgrid[0:h, 0:w]
    yy, xx = yy / h, xx / w
    chans = []
    for _ in range(3):
        a, b, p = rng.uniform(0.5, 2.5, 3)
        chans.append(128 + 90 * np.sin(2 * np.pi * (a * xx + b * yy) + p)
                     + 20 * np.cos(2 * np.pi * b * xx * yy))
    return np.clip(np.stack(chans, -1), 0, 255).astype(np.uint8)


def generate_images(n: int, seed: int) -> tuple[pd.DataFrame, list]:
    """The image+caption corpus: one seeded smooth image per row, PNG or
    JPEG, placed uniformly over the road grid's extent. Every (width,
    height, format) combination appears equally often, in seeded order, so
    the decode and encode work is the same for every seed. Returns the
    frame and the source pixel arrays (the pyramid reference)."""
    from routers_spark.functions.raster import encode_image

    rng = np.random.default_rng(seed)
    span = SPACING_DEG * (GRID_N - 1)
    combos = [(w, h, fmt) for w in IMAGE_SIZES for h in IMAGE_SIZES
              for fmt in ("png", "jpeg")]
    order = rng.permutation(np.arange(n) % len(combos))
    rows, pixels = [], []
    for i in range(n):
        w, h, fmt = combos[order[i]]
        pix = smooth_pixels(rng, h, w)
        caption = " ".join(CAPTION_WORDS[k]
                           for k in rng.integers(0, len(CAPTION_WORDS), 6))
        rows.append((f"img{i:08d}", encode_image(pix, fmt), w, h, fmt,
                     caption, LON0 + rng.uniform(0, span),
                     LAT0 + rng.uniform(0, span)))
        pixels.append(pix)
    df = pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt",
                                     "caption", "lon", "lat"])
    df["w"] = df["w"].astype(np.int32)
    df["h"] = df["h"].astype(np.int32)
    return df, pixels


# ------------------------------------------------------- pinning + writing


def fingerprint(frames: list[pd.DataFrame]) -> str:
    """sha256 over every column's values (not over parquet bytes, which
    depend on the writer version)."""
    h = hashlib.sha256()
    for df in frames:
        for col in df.columns:
            h.update(col.encode())
            v = df[col].values
            if v.dtype == object:
                for x in v:
                    b = x if isinstance(x, bytes) else str(x).encode()
                    h.update(len(b).to_bytes(4, "little"))
                    h.update(b)
            else:
                h.update(np.ascontiguousarray(v).tobytes())
    return h.hexdigest()


def encoder_probe() -> str:
    """sha256 of the borrowed encoder's output on fixed, seed-independent
    images (both formats, every size)."""
    from routers_spark.functions.raster import encode_image

    rng = np.random.default_rng(20240601)
    h = hashlib.sha256()
    for s in IMAGE_SIZES:
        pix = smooth_pixels(rng, s, s)
        for fmt in ("png", "jpeg"):
            h.update(encode_image(pix, fmt))
    return h.hexdigest()


class PinError(RuntimeError):
    """Generated inputs differ from the pinned fingerprint."""


def load_pins() -> dict:
    with open(FINGERPRINTS) as f:
        return json.load(f)


def check_pins(workload: str, seed: int, fp: str, pins: dict) -> None:
    """Fail loudly when the encoder or a pinned seed's inputs changed."""
    if workload == "geo_images" and encoder_probe() != pins["encoder_probe"]:
        raise PinError("image encoder output changed: the geo_images "
                       "inputs would silently differ from the pinned ones")
    want = pins["seeds"].get(str(seed), {}).get(workload)
    if want is not None and want != fp:
        raise PinError(f"{workload} inputs for seed {seed} changed: "
                       f"{fp} != pinned {want}")


def write_parquet(df: pd.DataFrame, path: str, files: int) -> int:
    """Write ``df`` as ``files`` equal-row parquet files (one Spark scan
    partition each, so tasks stay balanced). Returns bytes written."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    step = -(-len(df) // files)
    total = 0
    for k in range(files):
        part = os.path.join(path, f"part-{k:03d}.parquet")
        pq.write_table(table.slice(k * step, step), part)
        total += os.path.getsize(part)
    return total
