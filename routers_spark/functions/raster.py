"""Raster codecs + pyramid kernels (pure python/numpy, stdlib zlib).

The container ships no image libraries (no PIL), so:
  - PNG is implemented for real (encode filter-0, decode all five filter
    types, 8-bit gray/RGB/RGBA, non-interlaced) — lossless, byte-exact
    round-trips;
  - JPEG goes through functions/jpeg.py (baseline sequential ITU-T T.81,
    4:4:4, Annex-K tables, JFIF) — the PSNR parity gate binds on an actual
    lossy codec.

Pyramid downsampling is a deterministic integer box filter
((a+b+c+d+2)//4), the resample pinned by the tile goldens (FIXTURES.md §5).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_COLOR_TYPE = {1: 0, 3: 2, 4: 6}  # channels -> PNG color type
_CHANNELS = {0: 1, 2: 3, 6: 4}


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + tag + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def png_encode(arr: np.ndarray) -> bytes:
    """8-bit PNG, filter 0, fixed zlib level 6 → deterministic bytes."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    assert arr.dtype == np.uint8 and c in _COLOR_TYPE
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _COLOR_TYPE[c], 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), arr.reshape(h, w * c)], axis=1
    ).tobytes()
    idat = zlib.compress(raw, 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def png_decode(data: bytes) -> np.ndarray:
    """Decode non-interlaced 8-bit PNG (color types 0/2/6, filters 0-4)."""
    assert data[:8] == _PNG_SIG, "not a PNG"
    pos = 8
    w = h = None
    color_type = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            assert depth == 8 and interlace == 0, "unsupported PNG variant"
            assert color_type in _CHANNELS, "unsupported color type"
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    c = _CHANNELS[color_type]
    raw = zlib.decompress(idat)
    stride = w * c
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    off = 0
    for y in range(h):
        ftype = raw[off]
        line = np.frombuffer(raw[off + 1:off + 1 + stride], dtype=np.uint8).copy()
        off += 1 + stride
        if ftype == 0:
            cur = line
        elif ftype == 2:  # up
            cur = (line.astype(np.int32) + prev).astype(np.uint8)
        elif ftype in (1, 3, 4):
            cur = np.zeros(stride, dtype=np.uint8)
            for i in range(stride):
                a = int(cur[i - c]) if i >= c else 0
                b = int(prev[i])
                if ftype == 1:
                    cur[i] = (int(line[i]) + a) & 0xFF
                elif ftype == 3:
                    cur[i] = (int(line[i]) + (a + b) // 2) & 0xFF
                else:
                    cc = int(prev[i - c]) if i >= c else 0
                    cur[i] = (int(line[i]) + _paeth(a, b, cc)) & 0xFF
        else:
            raise ValueError(f"bad filter {ftype}")
        out[y] = cur
        prev = cur
    return out.reshape(h, w, c)


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "png":
        return png_decode(data)
    if fmt == "jpeg":
        from routers_spark.functions.jpeg import jpeg_decode

        return jpeg_decode(data)
    raise ValueError(f"unknown format {fmt!r}")


def encode_image(arr: np.ndarray, fmt: str, quality: int = 95) -> bytes:
    if fmt == "png":
        return png_encode(arr)
    if fmt == "jpeg":
        from routers_spark.functions.jpeg import jpeg_encode

        return jpeg_encode(arr, quality=quality)
    raise ValueError(f"unknown format {fmt!r}")


# ------------------------------------------------------------------ pyramid


def box_downsample(arr: np.ndarray) -> np.ndarray:
    """2x2 integer box filter, round-half-up: (a+b+c+d+2) // 4. Odd trailing
    rows/cols are dropped (tile dims here are powers of two)."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    h2, w2 = h // 2, w // 2
    a = arr[: h2 * 2, : w2 * 2].astype(np.uint16)
    s = a[0::2, 0::2] + a[0::2, 1::2] + a[1::2, 0::2] + a[1::2, 1::2]
    return ((s + 2) // 4).astype(np.uint8)


def pyramid(arr: np.ndarray, levels: int) -> list[np.ndarray]:
    """Full-resolution image + ``levels`` successive box-filtered halvings."""
    out = [arr if arr.ndim == 3 else arr[:, :, None]]
    for _ in range(levels):
        if min(out[-1].shape[0], out[-1].shape[1]) < 2:
            break
        out.append(box_downsample(out[-1]))
    return out


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB (inf for identical images)."""
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    mse = np.mean((a - b) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)
