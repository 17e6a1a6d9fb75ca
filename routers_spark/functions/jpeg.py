"""Baseline JPEG (ITU-T T.81 / JFIF) encoder + decoder, numpy plus one
compiled loop.

Implements the PUBLIC spec from scratch (no image libraries are
required): ``fmt="jpeg"`` is baseline sequential JPEG, so the PSNR parity
gate binds on an actual lossy codec.

Scope (what the ENCODER emits): baseline sequential DCT, 8-bit, YCbCr
4:4:4 (no chroma subsampling), Annex-K quantization tables scaled by the
IJG quality formula, standard Annex-K Huffman tables, JFIF APP0, byte
stuffing — files any standard decoder reads. The DECODER is table-driven
off the file's own DQT/DHT/SOF0 segments (interval-free baseline, h=v=1
components), so it is not coupled to the encoder's table choice.

Hot math (color transform, DCT/IDCT over all blocks, quantization) is
vectorized numpy; the decoder's IDCT is two batched matrix products. The
entropy encoder builds the whole symbol stream as arrays and bit-packs it
in one vector pass. The entropy decoder cuts the scan out with two regexes
and one replace, then decodes it in one call to ``rc_jpeg_scan``
(``raster_codecs.c``, built with ``cc`` through ``routers_spark.native``;
there is no Python fallback): each Huffman code is one lookup in a 16-bit
lookahead table per DHT (cached per table). Damaged input raises
``ValueError``, and a header claiming more blocks than its scan can hold
is refused before the coefficients are allocated.
"""

from __future__ import annotations

import ctypes
import functools
import re
import struct

import numpy as np

from routers_spark.functions.ragged import ragged_within
from routers_spark.functions.raster import CODECS

# ------------------------------------------------------------- constants

# Annex K.1/K.2 quantization tables (natural row-major order)
QUANT_LUMA = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int64)

QUANT_CHROMA = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int64)


def _zigzag_order() -> np.ndarray:
    """The 64-entry zigzag index permutation, generated by the diagonal
    walk (derived, not hardcoded — one fewer transcription hazard)."""
    order = []
    for d in range(15):
        rng = range(d + 1)
        for i in (rng if d % 2 else reversed(rng)):
            r, c = i, d - i
            if r < 8 and c < 8:
                order.append(r * 8 + c)
    return np.array(order, dtype=np.int64)


ZIGZAG = _zigzag_order()          # natural index for each zigzag position
UNZIGZAG = np.argsort(ZIGZAG)

# Annex K.3 Huffman table specs: (bits[1..16], values)
DC_LUMA_SPEC = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
                list(range(12)))
DC_CHROMA_SPEC = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                  list(range(12)))
AC_LUMA_SPEC = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
AC_CHROMA_SPEC = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


def _canonical_codes(bits: list[int],
                     values: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment (T.81 C.2): symbol -> (code, length)."""
    enc: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            sym = values[k]
            enc[sym] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return enc


_DCT = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _DCT[_u, _x] = np.sqrt((1 if _u else 0.5) / 4.0) * np.cos(
            (2 * _x + 1) * _u * np.pi / 16.0)


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 1-100 → scaled Annex-K table, clamped 1..255."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (table * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int64)


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = (ycc[..., i] for i in range(3))
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255) \
        .astype(np.uint8)


def _blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) → (n_blocks, 8, 8) in raster block order, edge-replicated to
    multiples of 8."""
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    p = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    bh, bw = p.shape[0] // 8, p.shape[1] // 8
    return (p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
            .reshape(bh * bw, 8, 8))


def _unblocks(blocks: np.ndarray, h: int, w: int) -> np.ndarray:
    bh, bw = (h + 7) // 8, (w + 7) // 8
    p = blocks.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3) \
        .reshape(bh * 8, bw * 8)
    return p[:h, :w]


def _category_np(v: np.ndarray) -> np.ndarray:
    """bit_length(|v|) vectorized (frexp exponent — exact below 2^53)."""
    a = np.abs(v).astype(np.float64)
    return np.where(v == 0, 0, np.frexp(a)[1]).astype(np.int64)


def _amplitude_np(v: np.ndarray, s: np.ndarray) -> np.ndarray:
    return np.where(v >= 0, v, v + (np.int64(1) << s) - 1).astype(np.int64)


def _code_tables(spec) -> tuple[np.ndarray, np.ndarray]:
    enc = _canonical_codes(*spec)
    codes = np.zeros(256, dtype=np.int64)
    lens = np.zeros(256, dtype=np.int64)
    for sym, (c, ln) in enc.items():
        codes[sym] = c
        lens[sym] = ln
    return codes, lens


def _pack_bits(codes: np.ndarray, lens: np.ndarray) -> bytes:
    """Bit-pack (code, length) pairs MSB-first, pad with 1s, byte-stuff —
    all vector ops (one pass per bit position of the longest code)."""
    keep = lens > 0
    codes, lens = codes[keep], lens[keep]
    total = int(lens.sum())
    pad = (-total) % 8
    positions = np.cumsum(lens) - lens
    bits = np.zeros(total + pad, dtype=np.uint8)
    for j in range(int(lens.max()) if len(lens) else 0):
        m = lens > j
        bits[positions[m] + j] = (codes[m] >> (lens[m] - 1 - j)) & 1
    bits[total:] = 1
    by = np.packbits(bits)
    ff = np.nonzero(by == 0xFF)[0]
    if len(ff):
        by = np.insert(by, ff + 1, 0)
    return by.tobytes()


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def jpeg_encode(arr: np.ndarray, quality: int = 90) -> bytes:
    """Encode an (H, W, 3) or (H, W) uint8 array as baseline JFIF."""
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    h, w = arr.shape[:2]
    ycc = _rgb_to_ycbcr(arr[:, :, :3])
    ql = _quality_scale(QUANT_LUMA, quality)
    qc = _quality_scale(QUANT_CHROMA, quality)

    # (table, 256) code/length lookups: 0=DC luma, 1=DC chroma, 2=AC luma,
    # 3=AC chroma
    tab_codes = np.stack([_code_tables(s)[0] for s in (
        DC_LUMA_SPEC, DC_CHROMA_SPEC, AC_LUMA_SPEC, AC_CHROMA_SPEC)])
    tab_lens = np.stack([_code_tables(s)[1] for s in (
        DC_LUMA_SPEC, DC_CHROMA_SPEC, AC_LUMA_SPEC, AC_CHROMA_SPEC)])

    # forward DCT + quantization for all blocks of all components at once
    comp_q = []
    for ci in range(3):
        blocks = _blocks(ycc[:, :, ci]) - 128.0
        coef = np.einsum("ux,nxy,vy->nuv", _DCT, blocks, _DCT)
        q = (ql if ci == 0 else qc).reshape(8, 8)
        comp_q.append(np.round(coef / q).astype(np.int64)
                      .reshape(-1, 64)[:, ZIGZAG])
    n_blocks = comp_q[0].shape[0]

    # ---- build the FULL symbol stream as arrays, then one vector bit-pack.
    # Stream order is (block, component, position-in-block); every entry is
    # (sort key, huff table, huff symbol, extra value, extra bit count).
    # key layout: (block*3 + comp) * 65*17 + local, local = pos*17 + sub
    # (sub orders ZRL runs before their terminating AC symbol; EOB last).
    e_key, e_tab, e_sym, e_val, e_len = [], [], [], [], []

    def emit(key, tab, sym, val, vlen):
        e_key.append(key)
        e_tab.append(tab)
        e_sym.append(sym)
        e_val.append(val)
        e_len.append(vlen)

    stride = 65 * 17
    for ci in range(3):
        zz = comp_q[ci]
        base = (np.arange(n_blocks, dtype=np.int64) * 3 + ci) * stride
        # DC: per-component prediction chain over blocks
        diffs = np.diff(np.concatenate([[0], zz[:, 0]]))
        s = _category_np(diffs)
        emit(base, np.full(n_blocks, 0 if ci == 0 else 1), s,
             _amplitude_np(diffs, s), s)
        # AC: flat nonzero walk with per-row run-length reset
        rows, ks = np.nonzero(zz[:, 1:])
        ks = ks.astype(np.int64) + 1
        first = np.concatenate([[True], rows[1:] != rows[:-1]])
        prev = np.concatenate([[0], ks[:-1]])
        run = np.where(first, ks - 1, ks - prev - 1)
        n16 = run >> 4
        sa = _category_np(zz[rows, ks])
        ac_t = 2 if ci == 0 else 3
        nzkey = base[rows] + ks * 17 + 16
        emit(nzkey, np.full(len(rows), ac_t),
             ((run & 15) << 4) | sa, _amplitude_np(zz[rows, ks], sa), sa)
        # ZRL batches (run >= 16): n16 copies keyed just before their symbol
        zr = np.nonzero(n16)[0]
        if len(zr):
            rep = n16[zr].astype(np.int64)
            zkey = np.repeat(base[rows[zr]] + ks[zr] * 17, rep) + \
                ragged_within(rep)
            emit(zkey, np.full(len(zkey), ac_t),
                 np.full(len(zkey), 0xF0), np.zeros(len(zkey)),
                 np.zeros(len(zkey)))
        # EOB for every block whose last nonzero isn't at 63 (or no AC)
        last = np.zeros(n_blocks, dtype=np.int64)
        np.maximum.at(last, rows, ks)
        need_eob = last != 63
        emit(base[need_eob] + 64 * 17, np.full(int(need_eob.sum()), ac_t),
             np.zeros(int(need_eob.sum())), np.zeros(int(need_eob.sum())),
             np.zeros(int(need_eob.sum())))

    key = np.concatenate([np.asarray(a, dtype=np.int64) for a in e_key])
    tab = np.concatenate([np.asarray(a, dtype=np.int64) for a in e_tab])
    sym = np.concatenate([np.asarray(a, dtype=np.int64) for a in e_sym])
    val = np.concatenate([np.asarray(a, dtype=np.int64) for a in e_val])
    vlen = np.concatenate([np.asarray(a, dtype=np.int64) for a in e_len])
    order = np.argsort(key, kind="stable")
    tab, sym, val, vlen = tab[order], sym[order], val[order], vlen[order]
    # interleave huffman code + amplitude bits: 2 slots per entry
    n = len(sym)
    codes = np.empty(2 * n, dtype=np.int64)
    lens = np.empty(2 * n, dtype=np.int64)
    codes[0::2] = tab_codes[tab, sym]
    lens[0::2] = tab_lens[tab, sym]
    codes[1::2] = val
    lens[1::2] = vlen
    entropy_bytes = _pack_bits(codes, lens)

    out = bytearray()
    out += b"\xff\xd8"                                   # SOI
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00" + struct.pack(
        ">HHBB", 1, 1, 0, 0))                            # APP0
    out += _seg(0xFFDB, bytes([0])
                + bytes(ql.reshape(-1)[ZIGZAG].astype(np.uint8)))
    out += _seg(0xFFDB, bytes([1])
                + bytes(qc.reshape(-1)[ZIGZAG].astype(np.uint8)))
    out += _seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 3)
                + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]))
    for tc_th, (bits, vals) in ((0x00, DC_LUMA_SPEC), (0x01, DC_CHROMA_SPEC),
                                (0x10, AC_LUMA_SPEC), (0x11, AC_CHROMA_SPEC)):
        out += _seg(0xFFC4, bytes([tc_th]) + bytes(bits) + bytes(vals))
    out += _seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += entropy_bytes
    out += b"\xff\xd9"                                   # EOI
    return bytes(out)


_END = re.compile(rb"\xff(?![\x00\xd0-\xd7])")   # next real marker
_RST = re.compile(rb"\xff[\xd0-\xd7]")


@functools.lru_cache(maxsize=32)
def _huff_lut(bits: bytes, vals: bytes) -> np.ndarray:
    """One DHT as a read-only 16-bit lookahead table (``uint32``): entry
    ``c`` holds ``symbol << 5 | length`` of the code that prefixes the 16
    bits ``c``, or 0 where no code does."""
    if sum(bits) != len(vals):
        raise ValueError("bad Huffman table")
    lut = np.zeros(65536, dtype=np.uint32)
    for sym, (code, ln) in _canonical_codes(list(bits), list(vals)).items():
        if code >= 1 << ln:
            raise ValueError("bad Huffman table")
        span = 1 << (16 - ln)
        lut[code * span:(code + 1) * span] = sym << 5 | ln
    lut.flags.writeable = False
    return lut


# rc_jpeg_scan's error codes (raster_codecs.c)
_SCAN_ERRORS = {
    -1: "invalid Huffman code",
    -2: "bad DC category",
    -3: "bad AC symbol",
    -4: "AC run past coefficient 63",
    -5: "truncated JPEG entropy data",
}


def jpeg_decode(data: bytes) -> np.ndarray:
    """Decode baseline sequential JFIF with h=v=1 components (what the
    encoder emits). Table-driven off the file's own DQT/DHT segments.
    Malformed or truncated input raises ``ValueError``."""
    try:
        return _decode(data)
    except (IndexError, KeyError, struct.error) as e:
        raise ValueError(f"malformed JPEG: {e!r}") from e


def _decode(data: bytes) -> np.ndarray:
    data = bytes(data)
    mv = memoryview(data)
    if bytes(mv[:2]) != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    i = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], np.ndarray] = {}
    comps: list[tuple[int, int]] = []   # (component id, quant table id)
    scan: list[tuple[int, int, int]] = []  # (comp idx, dc table, ac table)
    h = w = 0
    entropy = None
    while i < len(mv):
        if mv[i] != 0xFF:
            raise ValueError("marker expected")
        marker = mv[i + 1]
        i += 2
        if marker == 0xD9:              # EOI
            break
        ln = struct.unpack(">H", mv[i:i + 2])[0]
        seg = mv[i + 2:i + ln]
        if marker == 0xDB:              # DQT (possibly several per segment)
            j = 0
            while j < len(seg):
                tid = seg[j] & 0x0F
                if seg[j] >> 4:
                    raise ValueError("only 8-bit quant tables")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = np.frombuffer(seg[j + 1:j + 65], dtype=np.uint8)
                qt[tid] = tbl.reshape(8, 8)
                j += 65
        elif marker == 0xC0:            # SOF0 baseline
            h, w = struct.unpack(">HH", seg[1:5])
            n = seg[5]
            if n > 4:
                raise ValueError(f"{n} components (at most 4)")
            for c in range(n):
                cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                if hv != 0x11:
                    raise ValueError("only 4:4:4 (h=v=1) supported")
                comps.append((cid, tq))
        elif marker == 0xC4:            # DHT (possibly several per segment)
            j = 0
            while j < len(seg):
                tc_th = seg[j]
                bits = bytes(seg[j + 1:j + 17])
                nvals = sum(bits)
                huff[(tc_th >> 4, tc_th & 0x0F)] = _huff_lut(
                    bits, bytes(seg[j + 17:j + 17 + nvals]))
                j += 17 + nvals
        elif marker == 0xDA:            # SOS
            ns = seg[0]
            if not 1 <= ns <= 4:
                raise ValueError(f"{ns} scan components (1 to 4)")
            ids = [ci for ci, _ in comps]
            for c in range(ns):
                cid, tabs = seg[1 + 2 * c:3 + 2 * c]
                if cid not in ids:
                    raise ValueError(f"scan names no frame component {cid}")
                idx = ids.index(cid)
                if any(k == idx for k, _, _ in scan):
                    raise ValueError(f"scan names component {cid} twice")
                scan.append((idx, tabs >> 4, tabs & 0x0F))
            # entropy data runs to the next non-stuffed, non-RST marker
            m = _END.search(data, i + ln)
            end = m.start() if m else len(data)
            entropy = _RST.sub(b"", data[i + ln:end]).replace(b"\xff\x00",
                                                              b"\xff")
            i = end
            continue
        elif marker == 0xC2:
            raise NotImplementedError("progressive JPEG not supported")
        i += ln
    if entropy is None or not h or not w:
        raise ValueError("truncated JPEG")

    n_blocks = ((h + 7) // 8) * ((w + 7) // 8)
    n_scan = len(scan)
    # every block of every scan component takes at least two bits (a DC
    # code and an EOB), so a header claiming more is refused before the
    # coefficient buffer is allocated
    if 2 * n_blocks * n_scan > 8 * len(entropy):
        raise ValueError(
            f"truncated JPEG entropy data: {n_blocks} blocks of {n_scan} "
            f"components in {len(entropy)} bytes")
    luts = []
    for _, dc_t, ac_t in scan:
        for key in ((0, dc_t), (1, ac_t)):
            if key not in huff:
                raise ValueError(f"scan names a missing Huffman table {key}")
            luts.append(huff[key])
    zz = np.zeros((n_scan, n_blocks, 64), dtype=np.int64)
    pos = CODECS.rc_jpeg_scan(
        entropy + bytes(8), len(entropy), n_blocks, n_scan,
        (ctypes.c_void_p * len(luts))(*(t.ctypes.data for t in luts)),
        zz.ctypes.data)
    if pos < 0:
        raise ValueError(_SCAN_ERRORS[pos])

    coefs = [None] * len(comps)
    for (ci, _, _), c in zip(scan, zz):
        coefs[ci] = c
    planes = []
    for ci, (cid, tq) in enumerate(comps):
        if tq not in qt:
            raise ValueError(f"component {cid} names a missing quant table")
        nat = np.zeros((n_blocks, 64), dtype=np.float64)
        if coefs[ci] is not None:
            nat[:, ZIGZAG] = coefs[ci]
        deq = nat.reshape(-1, 8, 8) * qt[tq].reshape(1, 8, 8)
        px = _DCT.T @ deq @ _DCT + 128.0
        planes.append(_unblocks(px, h, w))
    ycc = np.stack(planes, axis=-1)
    return _ycbcr_to_rgb(ycc)
