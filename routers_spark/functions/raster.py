"""Raster codecs + pyramid kernels (numpy, stdlib zlib, and the compiled
loops of ``raster_codecs.c``, built with ``cc`` on first import through
``routers_spark.native``; without a compiler the import raises
``ImportError``).

The container ships no image libraries (no PIL), so:
  - PNG is implemented for real (encode filter-0, decode all five filter
    types in C, 8-bit gray/RGB/RGBA, non-interlaced) — lossless, byte-exact
    round-trips; damaged input raises ``ValueError``;
  - JPEG goes through functions/jpeg.py (baseline sequential ITU-T T.81,
    4:4:4, Annex-K tables, JFIF) — the PSNR parity gate binds on an actual
    lossy codec.

Pyramid downsampling is a deterministic integer box filter
((a+b+c+d+2)//4), the resample pinned by the tile goldens (FIXTURES.md §5).
"""

from __future__ import annotations

import ctypes
import struct
import zlib

import numpy as np

from routers_spark.native import load_kernel

# the codecs' compiled loops (raster_codecs.c): the PNG unfilter here and
# the JPEG entropy decode in jpeg.py
CODECS = load_kernel(__package__, "raster_codecs.c")
CODECS.rc_png_unfilter.argtypes = [ctypes.c_char_p] + [ctypes.c_int64] * 3 \
    + [ctypes.c_void_p]
CODECS.rc_png_unfilter.restype = ctypes.c_int64
CODECS.rc_jpeg_scan.argtypes = [ctypes.c_char_p] + [ctypes.c_int64] * 3 \
    + [ctypes.c_void_p] * 2
CODECS.rc_jpeg_scan.restype = ctypes.c_int64

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
    if arr.dtype != np.uint8 or c not in _COLOR_TYPE:
        raise ValueError(f"PNG takes uint8 with 1, 3 or 4 channels, not "
                         f"{arr.dtype} with {c}")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _COLOR_TYPE[c], 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), arr.reshape(h, w * c)], axis=1
    ).tobytes()
    idat = zlib.compress(raw, 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def png_decode(data: bytes) -> np.ndarray:
    """Decode non-interlaced 8-bit PNG (color types 0/2/6, filters 0-4).
    Malformed or truncated input raises ``ValueError``."""
    try:
        return _png_decode(bytes(data))
    except (struct.error, zlib.error) as e:
        raise ValueError(f"malformed PNG: {e!r}") from e


def _png_decode(data: bytes) -> np.ndarray:
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = c = None
    idat = []
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if len(body) < length:
            raise ValueError(f"truncated PNG chunk {bytes(tag)!r}")
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or interlace != 0:
                raise ValueError("unsupported PNG variant")
            if color_type not in _CHANNELS:
                raise ValueError("unsupported color type")
            c = _CHANNELS[color_type]
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if c is None:
        raise ValueError("PNG without IHDR")
    raw = zlib.decompress(b"".join(idat))
    stride = w * c
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG image data")
    out = np.empty((h, stride), dtype=np.uint8)
    bad = CODECS.rc_png_unfilter(raw, h, stride, c, out.ctypes.data)
    if bad >= 0:
        raise ValueError(f"bad filter {raw[bad * (stride + 1)]}")
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
