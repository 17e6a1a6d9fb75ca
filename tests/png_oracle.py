"""Pure-Python PNG row unfilter: the oracle the compiled loop
(``rc_png_unfilter`` in ``routers_spark/functions/raster_codecs.c``) must
equal byte for byte (filters None, Sub, Up, Average and Paeth)."""

from __future__ import annotations

import numpy as np


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def unfilter(raw: bytes, h: int, stride: int, c: int) -> np.ndarray:
    """``h`` rows of (filter type byte, ``stride`` filtered bytes) at ``c``
    bytes per pixel → the (h, stride) unfiltered bytes."""
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
    return out
