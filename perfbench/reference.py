"""Independent references for the accuracy checks.

Written from the specifications the engine follows (Web-Mercator slippy
tiles, first-containing-zone ray casting, the 2x2 round-half-up box filter,
PNG filter 0), not by calling the kernels being timed.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# the reference projection multiplies degrees by this literal, not pi/180
DEG2RAD = 0.0174533
JPEG_PSNR_FLOOR_DB = 35.0


def slippy_xy(lon: np.ndarray, lat: np.ndarray, zoom: int):
    n = float(1 << zoom)
    x = np.floor(n * ((lon + 180.0) / 360.0)).astype(np.int64)
    rad = lat * DEG2RAD
    y = np.floor(n * (1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / np.pi)
                 / 2.0).astype(np.int64)
    return x, y


def _inside(px: float, py: float, ring) -> bool:
    inside = False
    m = len(ring)
    for k in range(m):
        x1, y1 = ring[k]
        x2, y2 = ring[(k + 1) % m]
        if (y1 > py) != (y2 > py):
            if px < x1 + (py - y1) * (x2 - x1) / (y2 - y1):
                inside = not inside
    return inside


def zone_of(lon: np.ndarray, lat: np.ndarray, zones: list[dict]) -> list:
    """First zone (in list order) whose ring contains the point, else None."""
    out = []
    for x, y in zip(lon.tolist(), lat.tolist()):
        out.append(next((z["zone_id"] for z in zones
                         if _inside(x, y, z["ring"])), None))
    return out


def box_pyramid(pix: np.ndarray, levels: int) -> list[np.ndarray]:
    out = [pix]
    for _ in range(levels):
        a = out[-1].astype(np.uint16)
        s = a[0::2, 0::2] + a[0::2, 1::2] + a[1::2, 0::2] + a[1::2, 1::2]
        out.append(((s + 2) // 4).astype(np.uint8))
    return out


def png_pixels(data: bytes) -> np.ndarray | None:
    """Decode an 8-bit RGB PNG whose rows all use filter 0 (what the
    engine writes); None for anything else, which the check then treats
    as a mismatch."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, idat, w = 8, b"", 0
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", body[:10])
            if depth != 8 or ctype != 2:
                return None
        elif tag == b"IDAT":
            idat += body
        pos += 12 + length
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    rows = raw.reshape(h, 1 + 3 * w)
    if rows[:, 0].any():
        return None
    return rows[:, 1:].reshape(h, w, 3)


def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return float("inf") if mse == 0 else 10.0 * np.log10(255.0 ** 2 / mse)
