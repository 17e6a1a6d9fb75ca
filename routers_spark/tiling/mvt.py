"""Mapbox Vector Tile (MVT v2) encoding — hand-rolled protobuf wire format.

Reproduces the reference's point-feature layers
(libs/routers_tiles/src/primitives/layer.rs): extent 4096, version 2,
geometry = one MoveTo command ``(1 & 0x7) | (1 << 3)`` followed by
zigzag-encoded in-tile offsets, tags interleaved ``[key_index,
value_index]``, feature id = the geohash-packed u64 of the point
(routers_geo cluster.rs:79-103 id packing).

Pure bytes math — safe inside an Arrow-batched pandas UDF
(``groupBy(z, x, y).applyInPandas``).
"""

from __future__ import annotations

MVT_EXTENT = 4096
MVT_VERSION = 2
MOVE_TO_1 = (1 & 0x7) | (1 << 3)  # command 1 (MoveTo), count 1 → 9


def _varint(v: int) -> bytes:
    out = bytearray()
    v &= 0xFFFFFFFFFFFFFFFF
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _packed_varints(field: int, values) -> bytes:
    body = b"".join(_varint(int(v)) for v in values)
    return _len_delim(field, body)


def zig(v: int) -> int:
    """u32 zigzag (layer.rs ``zig``): (v << 1) ^ (v >> 31) on u32."""
    v &= 0xFFFFFFFF
    return ((v << 1) ^ (v >> 31)) & 0xFFFFFFFF


def encode_value(s: str) -> bytes:
    """MVT Value message holding a string (field 1)."""
    return _len_delim(1, s.encode("utf-8"))


def encode_feature(fid: int, px: int, py: int, tags: list[int]) -> bytes:
    body = _tag(1, 0) + _varint(fid)
    if tags:
        body += _packed_varints(2, tags)
    body += _tag(3, 0) + _varint(1)  # GeomType::POINT
    body += _packed_varints(4, [MOVE_TO_1, zig(px), zig(py)])
    return body


def encode_layer(name: str, features: list[bytes], keys: list[str],
                 values: list[bytes]) -> bytes:
    body = _tag(15, 0) + _varint(MVT_VERSION)
    body += _len_delim(1, name.encode("utf-8"))
    for f in features:
        body += _len_delim(2, f)
    for k in keys:
        body += _len_delim(3, k.encode("utf-8"))
    for v in values:
        body += _len_delim(4, v)
    body += _tag(5, 0) + _varint(MVT_EXTENT)
    return body


def encode_point_layer(name: str, ids, px, py,
                       keys: list[str] | None = None,
                       str_values: list[list[str]] | None = None) -> bytes:
    """One MVT layer of point features. ``px/py`` are in-tile offsets
    (0..extent); ``str_values[i]`` are feature i's values aligned to keys
    (tag indices follow layer.rs: value index = feature_index * n_keys + k)."""
    keys = keys or []
    n_keys = len(keys)
    values: list[bytes] = []
    feats: list[bytes] = []
    for i in range(len(ids)):
        tags: list[int] = []
        if n_keys:
            for k in range(n_keys):
                tags += [k, i * n_keys + k]
            values += [encode_value(v) for v in str_values[i]]
        feats.append(encode_feature(int(ids[i]), int(px[i]), int(py[i]), tags))
    return encode_layer(name, feats, keys, values)


# ------------------------------------------------------- minimal decoder
# (round-trip test support only)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7


def decode_layer(buf: bytes) -> dict:
    out = {"features": [], "keys": [], "values": [], "version": None,
           "extent": None, "name": None}
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 0x7
        if wire == 0:
            v, pos = _read_varint(buf, pos)
            if field == 15:
                out["version"] = v
            elif field == 5:
                out["extent"] = v
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            body = buf[pos:pos + ln]
            pos += ln
            if field == 1:
                out["name"] = body.decode()
            elif field == 3:
                out["keys"].append(body.decode())
            elif field == 4:
                out["values"].append(body)
            elif field == 2:
                out["features"].append(_decode_feature(body))
    return out


def _decode_feature(buf: bytes) -> dict:
    f = {"id": None, "tags": [], "type": None, "geometry": []}
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 0x7
        if wire == 0:
            v, pos = _read_varint(buf, pos)
            if field == 1:
                f["id"] = v
            elif field == 3:
                f["type"] = v
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            end = pos + ln
            vals = []
            while pos < end:
                v, pos = _read_varint(buf, pos)
                vals.append(v)
            if field == 2:
                f["tags"] = vals
            elif field == 4:
                f["geometry"] = vals
    return f


def unzig(v: int) -> int:
    return (v >> 1) ^ (-(v & 1))

