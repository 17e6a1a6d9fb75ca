"""Multimodal operators: real Spark plumbing (schemas, Arrow batches,
bounded fan-out) and REAL codecs end-to-end (PNG/JPEG/WAV/MJPG-AVI);
a video or audio payload that is not RIFF raises."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from routers_spark.functions.avi import avi_encode
from routers_spark.functions.raster import png_decode, png_encode
from routers_spark.functions.wav import wav_encode
from routers_spark.pipeline.multimodal import (
    audio_windows,
    image_features,
    phash_dedup_pairs,
    sample_frames,
)


def _clip(n_frames: int, seed: int) -> bytes:
    """An MJPG AVI of ``n_frames`` 8x8 frames (ten distinct ones, cycled)."""
    rng = np.random.default_rng(seed)
    frames = [rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
              for _ in range(10)]
    return avi_encode([frames[k % 10] for k in range(n_frames)], fps=30.0)


def test_image_features_real_png(spark):
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    img[:, :, 0] = 200  # pure-ish red
    df = spark.createDataFrame(
        pd.DataFrame({"image_id": ["a"], "bytes": [png_encode(img)],
                      "fmt": ["png"]}))
    out = image_features(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r.mean_r == 200.0 and r.mean_g == 0.0 and r.mean_b == 0.0
    hist = [getattr(r, f"hist_{i}") for i in range(8)]
    assert abs(sum(hist) - 1.0) < 1e-9


def test_sample_frames_bounded_fanout(spark):
    vids = spark.createDataFrame(pd.DataFrame({
        "video_id": ["v1", "v2", "v3"],
        # v1 has 17 sampled frames, v2 (a "long clip") 60: both stay
        # bounded at 16 rows
        "bytes": [_clip(170, 1), _clip(600, 2), _clip(5, 3)],
    }))
    out = sample_frames(vids, every_n=10, max_frames=16).toPandas()
    per = out.groupby("video_id").size().to_dict()
    assert per["v1"] == 16 and per["v2"] == 16 and per["v3"] == 1
    assert sorted(out[out.video_id == "v2"].frame_idx) == list(range(0, 160, 10))
    # frames are real PNGs with the declared shape; timestamps follow the
    # file's frame rate (avih stores 33333 us per frame)
    r = out[out.video_id == "v1"].sort_values("frame_idx").iloc[3]
    assert png_decode(bytes(r.frame_png)).shape == (r.h, r.w, 3) == (8, 8, 3)
    assert r.t_ms == int(r.frame_idx / (1_000_000 / 33333) * 1000)
    # deterministic across runs
    again = sample_frames(vids, every_n=10, max_frames=16).toPandas()
    assert out.sort_values(["video_id", "frame_idx"]).frame_png.tolist() == \
        again.sort_values(["video_id", "frame_idx"]).frame_png.tolist()


def test_audio_windows(spark):
    rng = np.random.default_rng(4)
    aud = spark.createDataFrame(pd.DataFrame({
        "audio_id": ["a1", "a2"],
        # a2 is shorter than one 250 ms window (4000 samples) -> dropped
        "bytes": [wav_encode(rng.uniform(-0.5, 0.5, 16000), 16000),
                  wav_encode(rng.uniform(-0.5, 0.5, 1000), 16000)],
    }))
    out = audio_windows(aud, window_ms=250).toPandas() \
        .sort_values("window_idx")
    assert set(out.audio_id) == {"a1"}
    assert len(out) == 4  # 1 s / 250 ms
    assert (out.rms > 0).all() and (out.peak >= out.rms).all()
    assert list(out.start_ms) == [0, 250, 500, 750]


def test_non_riff_media_payload_raises(spark):
    """A payload that is not RIFF AVI / WAVE fails loudly, naming its row."""
    vids = spark.createDataFrame(pd.DataFrame({
        "video_id": ["v-ok", "v-bad"],
        "bytes": [_clip(3, 1), b"clip-1"]}))
    with pytest.raises(Exception, match="'v-bad': payload is not RIFF AVI"):
        sample_frames(vids).collect()
    # a WAV is RIFF but not AVI
    wav = spark.createDataFrame(pd.DataFrame({
        "video_id": ["v-wav"], "bytes": [wav_encode(np.zeros(8), 8000)]}))
    with pytest.raises(Exception, match="'v-wav': payload is not RIFF AVI"):
        sample_frames(wav).collect()
    aud = spark.createDataFrame(pd.DataFrame({
        "audio_id": ["a-bad"], "bytes": [b"wave-1"]}))
    with pytest.raises(Exception, match="'a-bad': payload is not RIFF WAVE"):
        audio_windows(aud).collect()


def test_phash_dedup_pairs_matches_brute(spark):
    rng = np.random.default_rng(31)
    hashes = rng.integers(-(2**62), 2**62, 30).tolist()
    # plant near-dups: flip 2 bits of hash 0, 5 bits of hash 1
    h0 = hashes[0]
    hashes.append(h0 ^ 0b101)                     # distance 2 -> pair
    h1 = hashes[1]
    hashes.append(h1 ^ 0b11111)                   # distance 5 -> no pair
    ids = [f"img{i:03d}" for i in range(len(hashes))]
    df = spark.createDataFrame(pd.DataFrame({"image_id": ids, "phash": hashes}))
    got = {(r.id_a, r.id_b): r.hamming
           for r in phash_dedup_pairs(df, max_hamming=3).collect()}
    import itertools

    want = {}
    for (ia, ha), (ib, hb) in itertools.combinations(zip(ids, hashes), 2):
        d = bin((ha ^ hb) & 0xFFFFFFFFFFFFFFFF).count("1")
        if d <= 3:
            key = (ia, ib) if ia < ib else (ib, ia)
            want[key] = d
    assert got == want
    assert ("img000", "img030") in got and got[("img000", "img030")] == 2
    assert ("img001", "img031") not in got


def test_resize_images_exact_box_mean_and_caption_passthrough(spark):
    from routers_spark.pipeline.multimodal import resize_images

    # 4x4 RGB with known 2x2 block means; integral ratio -> exact box filter
    arr = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    pdf = pd.DataFrame({
        "image_id": ["img1"],
        "bytes": [png_encode(arr)],
        "fmt": ["png"],
        "w": [4], "h": [4],
        "caption": ["a caption é中"],
    })
    out = resize_images(spark.createDataFrame(pdf), 2, 2).toPandas()
    assert len(out) == 1 and out["w"][0] == 2 and out["h"][0] == 2
    got = png_decode(bytes(out["bytes"][0]))
    want = np.floor(
        arr.astype(np.float64).reshape(2, 2, 2, 2, 3).mean(axis=(1, 3)) + 0.5
    ).astype(np.uint8)
    assert np.array_equal(got, want)
    assert out["caption"][0] == pdf["caption"][0]  # byte-equal passthrough


def test_resize_images_non_integral_ratio_shape(spark):
    from routers_spark.pipeline.multimodal import resize_images

    rng = np.random.default_rng(5)
    arr = rng.integers(0, 256, (7, 5, 3), dtype=np.uint8)
    pdf = pd.DataFrame({
        "image_id": ["odd"], "bytes": [png_encode(arr)], "fmt": ["png"],
        "w": [5], "h": [7],
    })
    out = resize_images(spark.createDataFrame(pdf), 3, 4).toPandas()
    got = png_decode(bytes(out["bytes"][0]))
    assert got.shape == (4, 3, 3)
    # exact oracle: per-box means over the floor partition, round half up
    h, w = 7, 5
    oh, ow = 4, 3
    want = np.zeros((oh, ow, 3), dtype=np.uint8)
    for i in range(oh):
        for j in range(ow):
            box = arr[(i * h) // oh:((i + 1) * h) // oh,
                      (j * w) // ow:((j + 1) * w) // ow].astype(np.float64)
            want[i, j] = np.floor(box.mean(axis=(0, 1)) + 0.5)
    assert np.array_equal(got, want)


def test_resize_images_upscale_pixel_replication(spark):
    """Upscale regression: area-0 boxes from the floor partition produced
    NaN -> undefined uint8 garbage; bounds now clamp to >=1 source pixel,
    so upscaling replicates pixels (the area-average limit)."""
    from routers_spark.pipeline.multimodal import resize_images

    arr = np.array([[[10, 20, 30], [200, 210, 220]],
                    [[50, 60, 70], [90, 100, 110]]], dtype=np.uint8)
    pdf = pd.DataFrame({
        "image_id": ["up"], "bytes": [png_encode(arr)], "fmt": ["png"],
        "w": [2], "h": [2],
    })
    out = resize_images(spark.createDataFrame(pdf), 4, 4).toPandas()
    got = png_decode(bytes(out["bytes"][0]))
    assert got.shape == (4, 4, 3)
    want = np.repeat(np.repeat(arr, 2, axis=0), 2, axis=1)
    assert np.array_equal(got, want)


def test_wav_roundtrip_and_real_audio_windows(spark):
    """WAV codec round-trips PCM exactly (to 16-bit quantization) and
    audio_windows decodes REAL RIFF payloads: a pure sine's window RMS must
    equal amplitude/sqrt(2) and its peak the amplitude."""
    from routers_spark.functions.wav import wav_decode

    t = np.arange(16000) / 16000.0
    sig = 0.5 * np.sin(2 * np.pi * 440.0 * t)
    data = wav_encode(sig, 16000)
    back, rate = wav_decode(data)
    assert rate == 16000 and back.shape == (16000, 1)
    np.testing.assert_allclose(back[:, 0], sig, atol=1.0 / 32768)
    # stereo + chunk walking
    st = wav_encode(np.stack([sig, -sig], axis=1), 8000)
    b2, r2 = wav_decode(st)
    assert r2 == 8000 and b2.shape == (16000, 2)

    from routers_spark.pipeline.multimodal import audio_windows

    df = spark.createDataFrame(
        pd.DataFrame({"audio_id": ["a"], "bytes": [data]}))
    out = audio_windows(df, window_ms=250, max_windows=4).toPandas()
    assert len(out) == 4
    np.testing.assert_allclose(out["rms"], 0.5 / np.sqrt(2), atol=1e-3)
    np.testing.assert_allclose(out["peak"], 0.5, atol=1e-3)


def test_avi_roundtrip_and_real_frame_sampling(spark):
    """MJPG AVI codec: container round-trips frame count/fps/shape, the
    sampled decode touches only the selected chunks, and sample_frames
    extracts REAL video frames (PSNR vs the source ≥ 40 dB on smooth
    content — the lossy-parity gate through the video path)."""
    from routers_spark.functions.avi import avi_decode_frames, avi_scan
    from routers_spark.functions.raster import psnr

    yy, xx = np.mgrid[0:24, 0:32]
    frames = [
        np.stack([(xx * 8 + k) % 256, (yy * 8) % 256,
                  np.full((24, 32), 40 + 3 * k)], axis=-1).astype(np.uint8)
        for k in range(25)
    ]
    data = avi_encode(frames, fps=25.0, quality=90)
    spans, fps, w, h = avi_scan(data)
    assert len(spans) == 25 and fps == 25.0 and (w, h) == (32, 24)
    got, fps2, total = avi_decode_frames(data, [0, 10, 24])
    assert total == 25 and fps2 == 25.0
    for fi, g in zip([0, 10, 24], got):
        assert psnr(frames[fi], g) >= 40.0

    from routers_spark.pipeline.multimodal import sample_frames
    from routers_spark.functions.raster import png_decode

    vids = spark.createDataFrame(pd.DataFrame({
        "video_id": ["real"], "bytes": [data]}))
    out = sample_frames(vids, every_n=10, max_frames=4).toPandas() \
        .sort_values("frame_idx").reset_index(drop=True)
    assert list(out["frame_idx"]) == [0, 10, 20]
    assert list(out["t_ms"]) == [0, 400, 800]  # fps from the FILE (25)
    assert (out["w"] == 32).all() and (out["h"] == 24).all()
    dec = png_decode(bytes(out["frame_png"][1]))
    assert psnr(frames[10], dec) >= 40.0
