"""Multimodal column operators: opaque binary payloads + typed metadata,
with the heavy per-row work in Arrow-batched ``mapInPandas``.

The engine treats image/audio/video as ``binary`` columns alongside typed
metadata (the input_hint shape). Every format has a from-scratch
public-spec codec: PNG (functions/raster.py), baseline JPEG
(functions/jpeg.py), PCM WAV audio (functions/wav.py), Motion-JPEG AVI
video (functions/avi.py). A video or audio payload that is not RIFF
AVI/WAVE raises ``ValueError`` naming its row id.

Operators:
  - ``image_features``: decode → per-channel mean/std + 8-bin luminance
    histogram (real math over real decodes)
  - ``sample_frames``: video → every-Nth-frame rows (bounded fan-out;
    frame payloads re-encoded PNG)
  - ``audio_windows``: audio → fixed-length window rows with RMS energy
  - ``phash_dedup_pairs``: perceptual-hash Hamming-ball near-dup join over
    the image table (the banded-slice pigeonhole join, same machinery as
    the SimHash dedup)
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from routers_spark.functions.raster import decode_image, png_encode
from routers_spark.pipeline.dedup import hamming_ball_pairs


_N_HIST_BINS = 8

IMAGE_FEATURES_SCHEMA = (
    "image_id string, mean_r double, mean_g double, mean_b double, "
    "std_lum double, "
    + ", ".join(f"hist_{i} double" for i in range(_N_HIST_BINS))
)


def image_features(images_df: DataFrame) -> DataFrame:
    """Decode each image (REAL codecs for both PNG and baseline JPEG) and
    emit per-channel means + luminance std + an 8-bin
    luminance histogram — one narrow Arrow pass, no shuffle. The histogram
    lands as scalar ``hist_0..hist_7`` columns (flat schemas keep the rows
    hashable/sortable for any downstream canonicalizer and columnar for
    parquet stats)."""
    hist_cols = [f"hist_{i}" for i in range(_N_HIST_BINS)]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    arr = decode_image(bytes(r.bytes), r.fmt).astype(np.float64)
                except NotImplementedError:
                    continue
                if arr.ndim == 2:
                    arr = arr[:, :, None]
                rgb = arr[:, :, :3] if arr.shape[2] >= 3 else \
                    np.repeat(arr[:, :, :1], 3, axis=2)
                lum = rgb.mean(axis=2)
                hist = np.histogram(lum, bins=_N_HIST_BINS, range=(0, 256))[0]
                hist = (hist / max(lum.size, 1)).tolist()
                rows.append((r.image_id, float(rgb[:, :, 0].mean()),
                             float(rgb[:, :, 1].mean()),
                             float(rgb[:, :, 2].mean()),
                             float(lum.std()), *hist))
            yield pd.DataFrame(rows, columns=[
                "image_id", "mean_r", "mean_g", "mean_b", "std_lum",
                *hist_cols])

    return images_df.select("image_id", "bytes", "fmt").mapInPandas(
        gen, schema=IMAGE_FEATURES_SCHEMA)


FRAME_SCHEMA = ("video_id string, frame_idx int, t_ms long, w int, h int, "
                "frame_png binary")


def sample_frames(videos_df: DataFrame, every_n: int = 10,
                  max_frames: int = 16) -> DataFrame:
    """Video frame sampling: every Nth frame, fan-out bounded by
    ``max_frames`` rows per video (the explode stays bounded no matter the
    clip length — the scale guard). Payloads are Motion-JPEG RIFF/AVI
    (functions/avi.py) and only the SAMPLED frames are decoded: MJPEG
    chunks are independent, which is the whole point of the format.
    Timestamps follow the file's frame rate; frame payloads re-encode as
    PNG. Any other payload raises ``ValueError`` with its video id.

    videos_df: (video_id string, bytes binary)."""
    from routers_spark.functions.avi import avi_decode_frames, avi_scan

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("video_id", "frame_idx", "t_ms", "w", "h",
                                   "frame_png")}
            for r in pdf.itertuples(index=False):
                payload = bytes(r.bytes)
                if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
                    raise ValueError(
                        f"video {r.video_id!r}: payload is not RIFF AVI")
                n_total = len(avi_scan(payload)[0])
                idxs = list(range(0, n_total, every_n))[:max_frames]
                if not idxs:
                    continue
                frames_l, fps, _ = avi_decode_frames(payload, idxs)
                frames = np.stack(frames_l)
                for k, fi in enumerate(idxs):
                    out["video_id"].append(r.video_id)
                    out["frame_idx"].append(fi)
                    out["t_ms"].append(int(fi / fps * 1000))
                    out["w"].append(frames.shape[2])
                    out["h"].append(frames.shape[1])
                    out["frame_png"].append(png_encode(frames[k]))
            yield pd.DataFrame(out)

    return videos_df.select("video_id", "bytes").mapInPandas(
        gen, schema=FRAME_SCHEMA)


AUDIO_SCHEMA = ("audio_id string, window_idx int, start_ms long, "
                "rms double, peak double")


def audio_windows(audio_df: DataFrame, window_ms: int = 250,
                  max_windows: int = 64) -> DataFrame:
    """Audio feature extraction: fixed-length windows with RMS energy and
    peak (bounded fan-out). Payloads are PCM RIFF/WAVE (functions/wav.py);
    the window length follows the file's sample rate, and a clip shorter
    than one window yields no rows. Any other payload raises
    ``ValueError`` with its audio id.

    audio_df: (audio_id string, bytes binary)."""
    from routers_spark.functions.wav import wav_decode

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                payload = bytes(r.bytes)
                if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
                    raise ValueError(
                        f"audio {r.audio_id!r}: payload is not RIFF WAVE")
                full, rate = wav_decode(payload)
                full = full.mean(axis=1)  # downmix, deterministic
                win = int(rate * window_ms / 1000)
                n = min(len(full), win * max_windows)
                if n < win:
                    continue
                samples = full[:n]
                k = n // win
                w = samples[:k * win].reshape(k, win)
                rms = np.sqrt((w.astype(np.float64) ** 2).mean(axis=1))
                peak = np.abs(w).max(axis=1).astype(np.float64)
                for i in range(k):
                    rows.append((r.audio_id, i, int(i * window_ms),
                                 float(rms[i]), float(peak[i])))
            yield pd.DataFrame(rows, columns=[
                "audio_id", "window_idx", "start_ms", "rms", "peak"])

    return audio_df.select("audio_id", "bytes").mapInPandas(
        gen, schema=AUDIO_SCHEMA)


RESIZE_SCHEMA = ("image_id string, w int, h int, fmt string, bytes binary, "
                 "caption string")


def resize_images(images_df: DataFrame, out_w: int, out_h: int,
                  out_fmt: str = "png") -> DataFrame:
    """Multimodal resize: decode → area-average resample to (out_w, out_h)
    → re-encode, one narrow Arrow pass (no shuffle, one output row per
    input). Resampling is deterministic area averaging over the source
    pixel grid (each output pixel = mean of its covering source box —
    integer-exact box filter when the ratio is integral, the same math the
    pyramid uses per octave); captions pass through byte-identical (the
    input_hint per-row invariant). Undecodable rows are dropped, matching
    image_features."""
    def _edges(n_out: int, n_src: int) -> tuple[np.ndarray, np.ndarray]:
        """Box bounds per output pixel: the floor partition for downscale;
        for upscale the floor partition repeats edges (area-0 boxes → 0/0),
        so the upper bound clamps to at least one source pixel — each
        output pixel then averages exactly its covering source pixel
        (pixel replication, the area-average limit)."""
        lo = (np.arange(n_out) * n_src) // n_out
        hi = np.maximum(lo + 1, ((np.arange(n_out) + 1) * n_src) // n_out)
        return lo, hi

    def _resample(arr: np.ndarray, ow: int, oh: int) -> np.ndarray:
        if arr.ndim == 2:
            arr = arr[:, :, None]
        h, w, c = arr.shape
        ylo, yhi = _edges(oh, h)   # per-box bounds (may overlap on upscale)
        xlo, xhi = _edges(ow, w)
        # cumulative-sum area table -> exact box means in O(h*w)
        ii = np.zeros((h + 1, w + 1, c), dtype=np.float64)
        ii[1:, 1:] = np.cumsum(np.cumsum(arr.astype(np.float64), 0), 1)
        s = (ii[yhi[:, None], xhi[None, :]] - ii[ylo[:, None], xhi[None, :]]
             - ii[yhi[:, None], xlo[None, :]]
             + ii[ylo[:, None], xlo[None, :]])
        area = ((yhi - ylo)[:, None] * (xhi - xlo)[None, :]).astype(np.float64)
        out = np.floor(s / area[:, :, None] + 0.5)
        return np.clip(out, 0, 255).astype(np.uint8)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from routers_spark.functions.raster import encode_image

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    arr = decode_image(bytes(r.bytes), r.fmt)
                except NotImplementedError:
                    continue
                small = _resample(arr, out_w, out_h)
                rows.append((r.image_id, out_w, out_h, out_fmt,
                             encode_image(small, out_fmt),
                             getattr(r, "caption", None)))
            yield pd.DataFrame(rows, columns=[
                "image_id", "w", "h", "fmt", "bytes", "caption"])

    cols = ["image_id", "bytes", "fmt"]
    if "caption" in images_df.columns:
        cols.append("caption")
    return images_df.select(*cols).mapInPandas(gen, schema=RESIZE_SCHEMA)


def phash_dedup_pairs(images_df: DataFrame, max_hamming: int = 3,
                      bands: int = 4,
                      id_col: str = "image_id",
                      hash_col: str = "phash") -> DataFrame:
    """Image near-dup candidates from the perceptual-hash column: the
    banded Hamming-ball pigeonhole join the SimHash text dedup uses
    (``dedup.hamming_ball_pairs``) — max_hamming < bands guarantees every
    pair within the ball shares an exact slice; exact bit_count(XOR)
    prunes. All JVM column algebra. Output: (id_a, id_b, hamming)."""
    return hamming_ball_pairs(images_df, id_col, hash_col, max_hamming,
                              bands, ("id_a", "id_b"))
