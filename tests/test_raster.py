"""Raster codec + pyramid tests: PNG round-trip byte-exactness, all filter
types decoded (the compiled unfilter against the Python oracle in
``png_oracle.py``), ValueError on damaged PNG input, format dispatch,
deterministic box-filter pyramid (the JPEG PSNR >= 40 dB parity gate of
BASELINE.md is in tests/test_jpeg.py)."""

import struct
import zlib

import numpy as np
import pytest

from routers_spark.functions.raster import (
    box_downsample,
    decode_image,
    encode_image,
    png_decode,
    png_encode,
    psnr,
    pyramid,
)

from png_oracle import unfilter

RNG = np.random.default_rng(42)


@pytest.mark.parametrize("shape", [(16, 16, 3), (32, 16, 3), (8, 8, 1),
                                   (16, 32, 4)])
def test_png_roundtrip_exact(shape):
    img = RNG.integers(0, 256, shape, dtype=np.uint8)
    assert np.array_equal(png_decode(png_encode(img)), img)


def test_png_encode_deterministic():
    img = RNG.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    assert png_encode(img) == png_encode(img)


def test_png_decode_all_filters():
    # craft a PNG using each filter type per row and check against the
    # reference unfiltering math
    w, h, c = 4, 5, 3
    img = RNG.integers(0, 256, (h, w, c), dtype=np.uint8)
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.uint8)
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        line = img[y].reshape(-1).astype(np.int32)
        enc = np.zeros(w * c, dtype=np.uint8)
        for i in range(w * c):
            a = int(line[i - c]) if i >= c else 0
            b = int(prev[i])
            cc = int(prev[i - c]) if i >= c else 0
            if ftype == 0:
                enc[i] = line[i] & 0xFF
            elif ftype == 1:
                enc[i] = (line[i] - a) & 0xFF
            elif ftype == 2:
                enc[i] = (line[i] - b) & 0xFF
            elif ftype == 3:
                enc[i] = (line[i] - (a + b) // 2) & 0xFF
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                enc[i] = (line[i] - pred) & 0xFF
        raw.append(ftype)
        raw.extend(enc.tobytes())
        prev = line.astype(np.uint8)

    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    buf = sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(bytes(raw))) \
        + chunk(b"IEND", b"")
    assert np.array_equal(png_decode(buf), img)


def _png(w: int, h: int, color_type: int, raw: bytes) -> bytes:
    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


@pytest.mark.parametrize("c", [1, 3, 4])
def test_png_unfilter_matches_python_oracle(c):
    """Random filter bytes under a random filter type per row, over many
    rows and widths (1 pixel, less than a pixel's worth of Sub lookback,
    odd widths): the compiled unfilter equals the Python loop."""
    rng = np.random.default_rng(c)
    color_type = {1: 0, 3: 2, 4: 6}[c]
    for w, h in ((1, 1), (1, 9), (2, 7), (13, 17), (64, 33)):
        stride = w * c
        rows = rng.integers(0, 256, (h, stride + 1), dtype=np.uint8)
        rows[:, 0] = rng.integers(0, 5, h)
        raw = rows.tobytes()
        got = png_decode(_png(w, h, color_type, raw))
        assert got.shape == (h, w, c)
        assert np.array_equal(got.reshape(h, stride),
                              unfilter(raw, h, stride, c))


def test_png_damaged_input_raises_value_error():
    """Truncation anywhere and single-byte flips anywhere either decode to
    a uint8 image or raise ValueError — never KeyError, struct.error,
    zlib.error or AssertionError."""
    img = RNG.integers(0, 256, (12, 10, 3), dtype=np.uint8)
    data = png_encode(img)
    damaged = [data[:cut] for cut in range(len(data))]
    for at in range(len(data)):
        flipped = bytearray(data)
        flipped[at] ^= 0xFF
        damaged.append(bytes(flipped))
    for bad in damaged:
        try:
            out = png_decode(bad)
        except ValueError:
            continue
        assert out.dtype == np.uint8 and out.ndim == 3
    with pytest.raises(ValueError, match="not a PNG"):
        png_decode(b"GIF89a" + data[6:])
    with pytest.raises(ValueError, match="without IHDR"):
        png_decode(data[:8])
    with pytest.raises(ValueError, match="bad filter 5"):
        png_decode(_png(1, 2, 0, b"\x00\x07\x05\x07"))
    with pytest.raises(ValueError, match="truncated PNG image data"):
        png_decode(_png(4, 4, 0, bytes(19)))


def test_decode_image_dispatch():
    img = RNG.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_image(img, "png"), "png"), img)
    # jpeg is the REAL baseline codec now: pure noise is the worst case for
    # any lossy transform codec — assert lossy-but-faithful; the ≥40 dB
    # parity gate binds on realistic content (tests/test_jpeg.py)
    dec = decode_image(encode_image(img, "jpeg"), "jpeg")
    assert dec.shape == img.shape
    assert psnr(img, dec) >= 28


def test_box_downsample_exact():
    a = np.array([[[0], [4]], [[8], [12]]], dtype=np.uint8)
    # (0+4+8+12+2)//4 = 6
    assert box_downsample(a)[0, 0, 0] == 6
    b = np.array([[[255], [255]], [[255], [254]]], dtype=np.uint8)
    assert box_downsample(b)[0, 0, 0] == (255 * 3 + 254 + 2) // 4


def test_pyramid_levels_and_determinism():
    img = RNG.integers(0, 256, (64, 32, 3), dtype=np.uint8)
    pyr = pyramid(img, 4)
    assert [p.shape[:2] for p in pyr] == [(64, 32), (32, 16), (16, 8), (8, 4),
                                          (4, 2)]
    pyr2 = pyramid(img, 4)
    for a, b in zip(pyr, pyr2):
        assert np.array_equal(a, b)
