"""Motion-JPEG AVI container — the PUBLIC RIFF/AVI format, pure python.

AVI with an 'MJPG' stream is RIFF chunk plumbing around per-frame
baseline JPEGs (functions/jpeg.py) — a format everyday tools genuinely
produce and consume. The video pipeline reads actual clip bytes, and frame
extraction decodes ONLY the selected frames (each '00dc' chunk is
independent, the property MJPEG is used for in practice).

Writer emits: RIFF('AVI ') { LIST(hdrl){ avih, LIST(strl){ strh 'vids'/
'MJPG', strf BITMAPINFOHEADER } }, LIST(movi){ '00dc'... }, idx1 }.
Reader walks chunks per spec (word-aligned), takes fps from avih and
frames from the movi list.
"""

from __future__ import annotations

import struct

import numpy as np


def _chunk(tag: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""
    return tag + struct.pack("<I", len(body)) + body + pad


def _list(tag: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", tag + body)


def avi_encode(frames: list[np.ndarray], fps: float = 30.0,
               quality: int = 90) -> bytes:
    """Frames ((h, w, 3) uint8, all same shape) → MJPG AVI bytes."""
    from routers_spark.functions.jpeg import jpeg_encode

    assert frames, "need at least one frame"
    h, w = frames[0].shape[:2]
    payloads = [jpeg_encode(f, quality=quality) for f in frames]
    max_len = max(len(p) for p in payloads)

    avih = struct.pack(
        "<14I", int(1_000_000 / fps), max_len * int(fps), 0, 0x10,
        len(frames), 0, 1, max_len, w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"MJPG" + struct.pack(
        "<IHHIIIIIIII", 0, 0, 0, 0, 1000, int(fps * 1000), 0, len(frames),
        max_len, 0xFFFFFFFF, 0) + struct.pack("<4h", 0, 0, w, h))
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                       w * h * 3, 0, 0, 0, 0)
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh)
                         + _chunk(b"strf", strf)))
    movi_body = b"".join(_chunk(b"00dc", p) for p in payloads)
    movi = _list(b"movi", movi_body)
    # idx1: one entry per frame (offset relative to movi list's 'movi' tag)
    idx = bytearray()
    off = 4
    for p in payloads:
        idx += b"00dc" + struct.pack("<III", 0x10, off, len(p))
        off += 8 + len(p) + (len(p) & 1)
    body = b"AVI " + hdrl + movi + _chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def avi_scan(data: bytes) -> tuple[list[tuple[int, int]], float, int, int]:
    """Walk the container WITHOUT decoding: returns (frame byte spans,
    fps, width, height). Frame payloads decode independently — callers
    fetch only the frames they sample."""
    assert data[:4] == b"RIFF" and data[8:12] == b"AVI ", "not an AVI file"
    fps, w, h = 30.0, 0, 0
    spans: list[tuple[int, int]] = []

    def walk(lo: int, hi: int) -> None:
        nonlocal fps, w, h
        i = lo
        while i + 8 <= hi:
            tag = data[i:i + 4]
            size = struct.unpack("<I", data[i + 4:i + 8])[0]
            if tag == b"LIST":
                walk(i + 12, i + 8 + size)
            elif tag == b"avih":
                us_per_frame = struct.unpack("<I", data[i + 8:i + 12])[0]
                if us_per_frame:
                    fps = 1_000_000 / us_per_frame
                w, h = struct.unpack("<II", data[i + 40:i + 48])
            elif tag in (b"00dc", b"00db"):
                spans.append((i + 8, i + 8 + size))
            i += 8 + size + (size & 1)

    walk(12, len(data))
    return spans, fps, int(w), int(h)


def avi_decode_frames(data: bytes,
                      indices: list[int] | None = None
                      ) -> tuple[list[np.ndarray], float, int]:
    """Decode the selected frame indices (all frames when None). Returns
    (frames, fps, total frame count)."""
    from routers_spark.functions.jpeg import jpeg_decode

    spans, fps, _, _ = avi_scan(data)
    want = range(len(spans)) if indices is None else indices
    frames = [jpeg_decode(data[spans[i][0]:spans[i][1]]) for i in want]
    return frames, fps, len(spans)
