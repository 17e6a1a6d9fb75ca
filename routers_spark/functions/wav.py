"""WAV (RIFF PCM) codec — the PUBLIC container format, pure numpy/struct.

The audio decoder behind ``audio_windows``: 16-bit and 8-bit PCM, any
channel count, floats normalized to [-1, 1).

Writer exists so fixtures synthesize real files — no external data.
"""

from __future__ import annotations

import struct

import numpy as np


def wav_encode(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """(n,) or (n, channels) float in [-1, 1] → 16-bit PCM RIFF/WAVE."""
    s = np.asarray(samples, dtype=np.float64)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    pcm = np.clip(np.round(s * 32767.0), -32768, 32767).astype("<i2")
    data = pcm.tobytes()
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, byte_rate, ch * 2, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_decode(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM → ((n, channels) float64 in [-1, 1), sample_rate).
    Walks chunks per the RIFF spec (unknown chunks skipped; word-aligned)."""
    assert data[:4] == b"RIFF" and data[8:12] == b"WAVE", "not a WAV file"
    i = 12
    ch = rate = bits = None
    pcm = None
    while i + 8 <= len(data):
        tag = data[i:i + 4]
        size = struct.unpack("<I", data[i + 4:i + 8])[0]
        body = data[i + 8:i + 8 + size]
        if tag == b"fmt ":
            audio_fmt, ch, rate, _, _, bits = struct.unpack(
                "<HHIIHH", body[:16])
            assert audio_fmt == 1, "only PCM WAV supported"
        elif tag == b"data":
            pcm = body
        i += 8 + size + (size & 1)      # chunks are word-aligned
    assert pcm is not None and ch and rate and bits, "truncated WAV"
    if bits == 16:
        x = np.frombuffer(pcm, dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 8:                     # 8-bit PCM is unsigned per spec
        x = (np.frombuffer(pcm, dtype=np.uint8).astype(np.float64)
             - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported PCM width {bits}")
    return x.reshape(-1, ch), int(rate)
