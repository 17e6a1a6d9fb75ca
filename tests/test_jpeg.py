"""Baseline JPEG codec (functions/jpeg.py): spec-level structure, PSNR
parity gates on realistic content, determinism, decoder independence
from the encoder's table choice (table-driven off DQT/DHT), pixel identity
with a bit-at-a-time reference decoder, and ValueError on damaged input."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from routers_spark.functions.jpeg import (
    _DCT,
    AC_CHROMA_SPEC,
    AC_LUMA_SPEC,
    DC_CHROMA_SPEC,
    DC_LUMA_SPEC,
    ZIGZAG,
    _canonical_codes,
    _code_tables,
    _huff_lut,
    _pack_bits,
    _unblocks,
    _ycbcr_to_rgb,
    jpeg_decode,
    jpeg_encode,
)
from routers_spark.functions.raster import psnr

RNG = np.random.default_rng(11)


def _gradient(h: int, w: int) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack([
        xx * 255 / max(w - 1, 1),
        yy * 255 / max(h - 1, 1),
        (xx + yy) * 255 / max(h + w - 2, 1),
    ], axis=-1).astype(np.uint8)


def test_huffman_specs_well_formed():
    for bits, vals in (DC_LUMA_SPEC, DC_CHROMA_SPEC,
                       AC_LUMA_SPEC, AC_CHROMA_SPEC):
        assert sum(bits) == len(vals)
        enc = _canonical_codes(bits, vals)
        assert len(enc) == len(vals)
        lut = _huff_lut(bytes(bits), bytes(vals))
        for sym, (code, ln) in enc.items():
            # canonical codes never overflow their length, and every
            # 16-bit window the code prefixes decodes to it
            assert code < (1 << ln)
            lo = code << (16 - ln)
            assert lut[lo] == lut[lo + (1 << (16 - ln)) - 1] == sym << 5 | ln
        # prefix-free: no two codes claim the same window
        assert sum(1 for e in lut if e) == sum(
            1 << (16 - ln) for _, ln in enc.values())
    assert sum(AC_LUMA_SPEC[0]) == 162 and sum(AC_CHROMA_SPEC[0]) == 162


def test_zigzag_is_the_standard_permutation():
    # spot-check the classic prefix + involution property
    assert list(ZIGZAG[:10]) == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert sorted(ZIGZAG) == list(range(64))


def test_structure_markers():
    data = jpeg_encode(_gradient(24, 24), quality=90)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    assert b"JFIF\x00" in data[:32]
    for marker in (b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
        assert marker in data


@pytest.mark.parametrize("h,w", [(8, 8), (24, 24), (45, 61), (7, 13)])
def test_roundtrip_psnr_gate_realistic(h, w):
    """The parity gate of the north rule: decoded pixels allclose at
    PSNR ≥ 40 dB for the lossy format, on realistic (smooth) content —
    incl. non-multiple-of-8 shapes (edge-replicated blocks)."""
    img = _gradient(h, w)
    dec = jpeg_decode(jpeg_encode(img, quality=90))
    assert dec.shape == img.shape
    assert psnr(img, dec) >= 40.0


def test_noise_is_lossy_but_bounded():
    img = RNG.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    dec = jpeg_decode(jpeg_encode(img, quality=95))
    assert not np.array_equal(dec, img)     # genuinely lossy
    assert psnr(img, dec) >= 28.0           # worst-case content, q95
    # quality is monotone: q50 strictly worse than q95 on noise
    dec50 = jpeg_decode(jpeg_encode(img, quality=50))
    assert psnr(img, dec50) < psnr(img, dec)


def test_deterministic_and_grayscale():
    img = RNG.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    assert jpeg_encode(img, 85) == jpeg_encode(img, 85)
    g = jpeg_decode(jpeg_encode(img[:, :, 0], quality=90))
    assert g.shape == (16, 16, 3)  # gray promoted to RGB, channels equal
    assert np.array_equal(g[:, :, 0], g[:, :, 1])


def test_decoder_honours_file_tables():
    """The decoder reads quantization + Huffman tables from the FILE, not
    from the encoder's constants: re-encoding at a different quality
    changes the DQT payload and the stream still decodes consistently."""
    img = _gradient(16, 16)
    d90 = jpeg_decode(jpeg_encode(img, quality=90))
    d30 = jpeg_decode(jpeg_encode(img, quality=30))
    assert psnr(img, d90) > psnr(img, d30)


def test_dispatch_integration_multimodal():
    """image_features / resize / pyramid consume real jpeg bytes through
    decode_image — shape and value sanity over the fixture generator."""
    from routers_spark.fixtures.images import generate_images
    from routers_spark.functions.raster import decode_image

    df = generate_images(20, seed=7)
    jp = df[df["fmt"] == "jpeg"]
    assert len(jp) > 0
    for r in jp.itertuples():
        arr = decode_image(bytes(r.bytes), "jpeg")
        assert arr.shape == (r.h, r.w, 3)
        assert bytes(r.bytes)[:2] == b"\xff\xd8"  # real JPEG on the wire


# ------------------------------------------------ bit-at-a-time reference


class _BitReader:
    def __init__(self, data: bytes):
        self.bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
        self.i = 0

    def read(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | int(self.bits[self.i])
            self.i += 1
        return v

    def huff(self, dec: dict[tuple[int, int], int]) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | int(self.bits[self.i])
            self.i += 1
            sym = dec.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _reference_decode(data: bytes) -> np.ndarray:
    """The decoder as first written: a per-byte unstuffing loop and one
    bit at a time through (length, code) -> symbol maps."""
    mv = memoryview(data)
    i = 2
    qt, huff, comps, scan = {}, {}, [], []
    h = w = 0
    entropy = None
    while i < len(mv):
        marker = mv[i + 1]
        i += 2
        if marker == 0xD9:
            break
        ln = struct.unpack(">H", mv[i:i + 2])[0]
        seg = mv[i + 2:i + ln]
        if marker == 0xDB:
            j = 0
            while j < len(seg):
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = np.frombuffer(seg[j + 1:j + 65], dtype=np.uint8)
                qt[seg[j] & 0x0F] = tbl.reshape(8, 8)
                j += 65
        elif marker == 0xC0:
            h, w = struct.unpack(">HH", seg[1:5])
            for c in range(seg[5]):
                cid, _, tq = seg[6 + 3 * c:9 + 3 * c]
                comps.append((cid, tq))
        elif marker == 0xC4:
            j = 0
            while j < len(seg):
                tc_th = seg[j]
                bits = list(seg[j + 1:j + 17])
                vals = list(seg[j + 17:j + 17 + sum(bits)])
                huff[(tc_th >> 4, tc_th & 0x0F)] = {
                    (ln, code): sym for sym, (code, ln)
                    in _canonical_codes(bits, vals).items()}
                j += 17 + len(vals)
        elif marker == 0xDA:
            for c in range(seg[0]):
                cid, tabs = seg[1 + 2 * c:3 + 2 * c]
                idx = next(k for k, (ci, _) in enumerate(comps) if ci == cid)
                scan.append((idx, tabs >> 4, tabs & 0x0F))
            j = i + ln
            raw = bytearray()
            while j < len(mv):
                b = mv[j]
                if b == 0xFF:
                    nxt = mv[j + 1]
                    if nxt == 0x00:
                        raw.append(0xFF)
                        j += 2
                        continue
                    if 0xD0 <= nxt <= 0xD7:
                        j += 2
                        continue
                    break
                raw.append(b)
                j += 1
            entropy = bytes(raw)
            i = j
            continue
        i += ln

    br = _BitReader(entropy)
    n_blocks = ((h + 7) // 8) * ((w + 7) // 8)
    coefs = [np.zeros((n_blocks, 64), dtype=np.int64) for _ in comps]
    prev_dc = [0] * len(comps)
    for bi in range(n_blocks):
        for ci, dc_t, ac_t in scan:
            zz = coefs[ci][bi]
            s = br.huff(huff[(0, dc_t)])
            diff = _extend(br.read(s), s) if s else 0
            prev_dc[ci] += diff
            zz[0] = prev_dc[ci]
            k = 1
            while k <= 63:
                sym = br.huff(huff[(1, ac_t)])
                if sym == 0x00:
                    break
                run, s = sym >> 4, sym & 0x0F
                if s == 0:
                    k += 16
                    continue
                k += run
                zz[k] = _extend(br.read(s), s)
                k += 1

    planes = []
    for ci, (_, tq) in enumerate(comps):
        nat = np.zeros((n_blocks, 64), dtype=np.float64)
        nat[:, ZIGZAG] = coefs[ci]
        deq = nat.reshape(-1, 8, 8) * qt[tq].reshape(1, 8, 8)
        px = np.einsum("xu,nuv,yv->nxy", _DCT.T, deq, _DCT.T) + 128.0
        planes.append(_unblocks(px, h, w))
    return _ycbcr_to_rgb(np.stack(planes, axis=-1))


def _oracle_corpus() -> list[bytes]:
    from routers_spark.fixtures.images import generate_images

    df = generate_images(60, seed=5)
    corpus = [bytes(b) for b, f in zip(df["bytes"], df["fmt"])
              if f == "jpeg"]
    noise = np.random.default_rng(3).integers(0, 256, (40, 24, 3),
                                              dtype=np.uint8)
    corpus += [jpeg_encode(noise, quality=q) for q in (30, 50, 95)]
    corpus += [jpeg_encode(_gradient(h, w), quality=90)
               for h, w in ((8, 8), (7, 13), (45, 61))]
    corpus.append(jpeg_encode(noise[:, :, 1], quality=75))
    return corpus


def test_decoder_matches_bit_loop_reference():
    corpus = _oracle_corpus()
    assert len(corpus) > 20
    for data in corpus:
        got, want = jpeg_decode(data), _reference_decode(data)
        assert got.dtype == want.dtype == np.uint8
        assert np.array_equal(got, want)


def _damaged_outcome(data: bytes) -> None:
    try:
        out = jpeg_decode(data)
    except ValueError:
        return
    assert out.ndim == 3 and out.shape[2] == 3 and out.dtype == np.uint8


@pytest.mark.parametrize("quality", [50, 95])
def test_damaged_input_raises_value_error(quality):
    """Truncation anywhere and single-byte flips anywhere either decode to
    an RGB array or raise ValueError — never IndexError, and an over-long
    AC run never spills into the next block."""
    noise = np.random.default_rng(quality).integers(0, 256, (24, 40, 3),
                                                    dtype=np.uint8)
    data = jpeg_encode(noise, quality=quality)
    for cut in range(0, len(data), 37):
        _damaged_outcome(data[:cut])
    for at in range(2, len(data), 11):
        flipped = bytearray(data)
        flipped[at] ^= 0xFF
        _damaged_outcome(bytes(flipped))


def _with_entropy(data: bytes, entropy: bytes) -> bytes:
    """``data``'s headers through SOS, then ``entropy`` and EOI."""
    sos = data.index(b"\xff\xda")
    (ln,) = struct.unpack(">H", data[sos + 2:sos + 4])
    return data[:sos + 2 + ln] + entropy + b"\xff\xd9"


def test_overlong_ac_run_raises_value_error():
    """Four (run 15, size 1) AC symbols take the first block of an 8x16
    image to coefficient 64, which would be the next block's DC."""
    data = jpeg_encode(_gradient(8, 16), quality=90)
    dc_codes, dc_lens = _code_tables(DC_LUMA_SPEC)
    ac_codes, ac_lens = _code_tables(AC_LUMA_SPEC)
    codes = [dc_codes[0]] + [ac_codes[0xF1], 1] * 4
    lens = [dc_lens[0]] + [ac_lens[0xF1], 1] * 4
    bad = _with_entropy(data, _pack_bits(np.array(codes), np.array(lens)))
    with pytest.raises(ValueError, match="coefficient 63"):
        jpeg_decode(bad)


def test_short_entropy_stream_raises_value_error():
    """Dropping the last entropy bytes but keeping EOI must not decode the
    missing blocks out of padding."""
    data = jpeg_encode(_gradient(24, 40), quality=90)
    sos = data.index(b"\xff\xda")
    (ln,) = struct.unpack(">H", data[sos + 2:sos + 4])
    entropy = data[sos + 2 + ln:-2]
    for drop in (1, 2, 3):
        with pytest.raises(ValueError, match="truncated"):
            jpeg_decode(_with_entropy(data, entropy[:-drop]))


# ------------------------------------------------------- hostile headers


def _with_segment(data: bytes, marker: int, payload: bytes) -> bytes:
    """``data`` with the payload of its first ``marker`` header segment
    replaced (segments walked by length, so table bytes never match)."""
    i = 2
    while True:
        m = data[i + 1]
        (ln,) = struct.unpack(">H", data[i + 2:i + 4])
        if m == marker:
            return (data[:i + 2] + struct.pack(">H", len(payload) + 2)
                    + payload + data[i + 2 + ln:])
        assert m != 0xDA, "marker not in the header"
        i += 2 + ln


def test_oversized_frame_over_short_scan_raises_before_allocating():
    """A 65535x65535 SOF0 over a 16x16 image's scan: 67M blocks of 3
    components would be 100 GB of coefficients; the decoder refuses the
    header from the scan's length without allocating them."""
    import tracemalloc

    data = jpeg_encode(_gradient(16, 16), quality=90)
    sof = struct.pack(">BHHB", 8, 65535, 65535, 3) + bytes(
        [1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1])
    bad = _with_segment(data, 0xC0, sof)
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="truncated"):
            jpeg_decode(bad)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 8 << 20


@pytest.mark.parametrize("marker,payload,match", [
    (0xC0, struct.pack(">BHHB", 8, 16, 16, 5) + bytes(
        [1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1, 4, 0x11, 1, 5, 0x11, 1]),
     "5 components"),
    (0xDA, bytes([3, 1, 0x00, 1, 0x11, 3, 0x11, 0, 63, 0]), "twice"),
    (0xDA, bytes([3, 1, 0x00, 2, 0x11, 9, 0x11, 0, 63, 0]),
     "no frame component 9"),
    (0xDA, bytes([3, 1, 0x22, 2, 0x11, 3, 0x11, 0, 63, 0]),
     "missing Huffman table"),
    (0xDA, bytes([5, 1, 0x00, 2, 0x11, 3, 0x11, 1, 0x11, 2, 0x11,
                  0, 63, 0]), "5 scan components"),
])
def test_hostile_headers_raise_value_error(marker, payload, match):
    """More components than T.81 allows, a component named twice or not
    at all by the scan, and a scan naming a Huffman table no DHT defined:
    each is a ValueError naming the fault, not a KeyError or a crash."""
    data = jpeg_encode(_gradient(16, 16), quality=90)
    with pytest.raises(ValueError, match=match):
        jpeg_decode(_with_segment(data, marker, payload))
