"""Mapbox Vector Tile (MVT v2) encoding — hand-rolled protobuf wire format.

Reproduces the reference's point-feature layers
(libs/routers_tiles/src/primitives/layer.rs): extent 4096, version 2,
geometry = one MoveTo command ``(1 & 0x7) | (1 << 3)`` followed by
zigzag-encoded in-tile offsets, tags interleaved ``[key_index,
value_index]``, feature id = the geohash-packed u64 of the point
(routers_geo cluster.rs:79-103 id packing).

Pure bytes math — safe inside an Arrow-batched pandas UDF
(``groupBy(z, x, y).applyInPandas``). The varint writer and the protobuf
reader are the OSM PBF ones (io/osm_pbf.py ``_enc_varint`` / ``_fields``).
"""

from __future__ import annotations

from routers_spark.io.osm_pbf import _enc_varint

MVT_EXTENT = 4096
MVT_VERSION = 2
MOVE_TO_1 = (1 & 0x7) | (1 << 3)  # command 1 (MoveTo), count 1 → 9


def _tag(field: int, wire: int) -> bytes:
    return _enc_varint((field << 3) | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _enc_varint(len(payload)) + payload


def _packed_varints(field: int, values) -> bytes:
    body = b"".join(_enc_varint(int(v)) for v in values)
    return _len_delim(field, body)


def zig(v: int) -> int:
    """u32 zigzag (layer.rs ``zig``): (v << 1) ^ (v >> 31) on u32."""
    v &= 0xFFFFFFFF
    return ((v << 1) ^ (v >> 31)) & 0xFFFFFFFF


def encode_value(s: str) -> bytes:
    """MVT Value message holding a string (field 1)."""
    return _len_delim(1, s.encode("utf-8"))


def encode_feature(fid: int, px: int, py: int, tags: list[int]) -> bytes:
    body = _tag(1, 0) + _enc_varint(fid)
    if tags:
        body += _packed_varints(2, tags)
    body += _tag(3, 0) + _enc_varint(1)  # GeomType::POINT
    body += _packed_varints(4, [MOVE_TO_1, zig(px), zig(py)])
    return body


def encode_layer(name: str, features: list[bytes], keys: list[str],
                 values: list[bytes]) -> bytes:
    body = _tag(15, 0) + _enc_varint(MVT_VERSION)
    body += _len_delim(1, name.encode("utf-8"))
    for f in features:
        body += _len_delim(2, f)
    for k in keys:
        body += _len_delim(3, k.encode("utf-8"))
    for v in values:
        body += _len_delim(4, v)
    body += _tag(5, 0) + _enc_varint(MVT_EXTENT)
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
