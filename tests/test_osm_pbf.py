"""S1 OSM PBF source: wire-level kernels, writer↔reader round trip over
the synthetic network (no external data), and the full PBF → graph →
match pipeline (reference lifecycle: blob/iterator.rs → element iterator →
graph.rs ingest)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from routers_spark.io.osm_pbf import (
    decode_packed_varints,
    read_pbf_nodes,
    read_pbf_ways,
    scan_blobs,
    unzigzag,
    write_osm_pbf,
    zigzag_encode,
    _enc_varint,
    _fields,
)


def test_varint_kernel_roundtrip():
    vals = np.array([0, 1, 127, 128, 300, 2**32, 2**63 - 1,
                     2**64 - 1], dtype=np.uint64)
    buf = b"".join(_enc_varint(int(v)) for v in vals)
    got = decode_packed_varints(buf)
    assert got.dtype == np.uint64
    np.testing.assert_array_equal(got, vals)
    assert len(decode_packed_varints(b"")) == 0


def test_varint_truncated_tail_raises():
    """A trailing continuation byte is a truncated varint, not a value."""
    with pytest.raises(ValueError, match="ends inside a varint"):
        decode_packed_varints(b"\x01\x81")
    with pytest.raises(ValueError, match="ends inside a varint"):
        decode_packed_varints(b"\x80")


def test_varint_longer_than_ten_bytes_raises():
    """A 12-byte varint does not fit in uint64; the longest legal one (10
    bytes) still decodes to 2**64 - 1."""
    with pytest.raises(ValueError, match="longer than 10 bytes"):
        decode_packed_varints(b"\xff" * 11 + b"\x01")
    assert decode_packed_varints(b"\xff" * 9 + b"\x01")[0] == 2**64 - 1


def test_fields_truncated_varint_raises():
    with pytest.raises(ValueError, match="ends inside a varint"):
        list(_fields(b"\x08"))  # key, then no value
    with pytest.raises(ValueError, match="ends inside a varint"):
        list(_fields(b"\x08\x96"))


def test_fields_varint_longer_than_ten_bytes_raises():
    with pytest.raises(ValueError, match="longer than 10 bytes"):
        list(_fields(b"\x08" + b"\xff" * 12 + b"\x01"))
    assert list(_fields(b"\x08" + b"\xff" * 9 + b"\x01")) == [
        (1, 0, 2**64 - 1)]


def test_fields_length_delimited_past_buffer_raises():
    with pytest.raises(ValueError, match="needs 5 bytes, 2 left"):
        list(_fields(b"\x12\x05ab"))
    assert [(f, w, bytes(v)) for f, w, v in _fields(b"\x12\x02ab")] == [
        (2, 2, b"ab")]


def test_fields_fixed_width_past_buffer_raises():
    with pytest.raises(ValueError, match="needs 8 bytes, 7 left"):
        list(_fields(b"\x09" + b"\x00" * 7))  # wire type 1: fixed64
    with pytest.raises(ValueError, match="needs 4 bytes, 3 left"):
        list(_fields(b"\x0d" + b"\x00" * 3))  # wire type 5: fixed32
    assert [(f, w, bytes(v)) for f, w, v in _fields(b"\x0d\x01\x02\x03\x04")
            ] == [(1, 5, b"\x01\x02\x03\x04")]


def test_concat_packed_truncated_buffer_raises():
    """Way 1's truncated ref must not glue onto way 2's first ref."""
    from routers_spark.io.osm_pbf import _concat_packed

    with pytest.raises(ValueError, match="ends inside a varint"):
        _concat_packed([b"\x81", b"\x01"])
    with pytest.raises(ValueError, match="ends inside a varint"):
        _concat_packed([b"", b"\x01\xff", b"", b"\x01"])
    vals, counts = _concat_packed([b"", b"\x01", b"\x96\x01", b""])
    assert vals.tolist() == [1, 150] and counts.tolist() == [0, 1, 1, 0]


def test_zigzag_roundtrip():
    vals = np.array([0, -1, 1, -2, 2, 2**62, -(2**62), -(2**63)],
                    dtype=np.int64)
    np.testing.assert_array_equal(unzigzag(zigzag_encode(vals)), vals)


@pytest.fixture(scope="module")
def pbf_fixture(tmp_path_factory):
    """Grid network as (nodes, ways): row/column ways with mixed highway
    classes, one oneway street, one non-whitelist way (must be dropped)."""
    from routers_spark.fixtures.roads import grid_network

    nodes, _ = grid_network(8)
    n = 8
    ways = []
    wid = 1
    ids = nodes["node_id"].values.reshape(n, n)
    for r in range(n):
        ways.append((wid, ids[r].tolist(),
                     {"highway": "residential", "name": f"row{r}"}))
        wid += 1
    for c in range(n):
        tags = {"highway": "tertiary"}
        if c == 2:
            tags["oneway"] = "yes"
        ways.append((wid, ids[:, c].tolist(), tags))
        wid += 1
    ways.append((wid, ids[0, :3].tolist(), {"highway": "footway"}))  # dropped
    ways_pdf = pd.DataFrame(ways, columns=["way_id", "refs", "tags"])
    path = str(tmp_path_factory.mktemp("pbf") / "grid.osm.pbf")
    # small nodes_per_blob → several OSMData blobs → several decode tasks
    write_osm_pbf(path, nodes, ways_pdf, nodes_per_blob=20)
    return path, nodes, ways_pdf


def test_blob_scan_framing(pbf_fixture):
    path, nodes, _ = pbf_fixture
    desc = scan_blobs(path)
    # leading spec-required OSMHeader blob, then the data blobs
    assert desc["blob_type"].iloc[0] == "OSMHeader"
    assert (desc["blob_type"].iloc[1:] == "OSMData").all()
    # header + node blobs + ways
    assert len(desc) == int(np.ceil(len(nodes) / 20)) + 2
    assert (desc["size"] > 0).all()
    assert desc["offset"].is_monotonic_increasing


def test_pbf_roundtrip_nodes_ways(spark, pbf_fixture):
    path, nodes, ways_pdf = pbf_fixture
    got_n = read_pbf_nodes(spark, path).toPandas().sort_values("node_id") \
        .reset_index(drop=True)
    want = nodes.sort_values("node_id").reset_index(drop=True)
    np.testing.assert_array_equal(got_n["node_id"].values,
                                  want["node_id"].values)
    # granularity 100 = 1e-7 deg quantization
    np.testing.assert_allclose(got_n["lon"].values, want["lon"].values,
                               atol=1.1e-7)
    np.testing.assert_allclose(got_n["lat"].values, want["lat"].values,
                               atol=1.1e-7)

    got_w = read_pbf_ways(spark, path).toPandas().sort_values("way_id") \
        .reset_index(drop=True)
    assert list(got_w["way_id"]) == list(ways_pdf["way_id"])
    for got_refs, want_refs in zip(got_w["refs"], ways_pdf["refs"]):
        assert list(got_refs) == list(want_refs)
    for got_tags, want_tags in zip(got_w["tags"], ways_pdf["tags"]):
        assert dict(got_tags) == dict(want_tags)


def test_pbf_to_graph_filters_and_twins(spark, pbf_fixture):
    from routers_spark.io.osm_pbf import osm_pbf_to_graph

    path, nodes, ways_pdf = pbf_fixture
    nodes_df, edges_df = osm_pbf_to_graph(spark, path)
    e = edges_df.toPandas()
    # footway dropped entirely
    foot_id = int(ways_pdf["way_id"].iloc[-1])
    assert not ((e["edge_id"] // (1 << 16)) == foot_id).any()
    # the oneway column-way produced NO reversed twins; others did
    oneway_wid = int(ways_pdf[ways_pdf["tags"].apply(
        lambda t: t.get("oneway") == "yes")]["way_id"].iloc[0])
    ow = e[(e["edge_id"] // (1 << 16)) == oneway_wid]
    assert len(ow) == 7 and ow["fwd"].all()
    other = e[(e["edge_id"] // (1 << 16)) == 1]
    assert len(other) == 14  # 7 segments × fwd+back
    # residential (10) vs tertiary (9) road-class weights applied
    assert set(e["weight"].unique()) == {10, 9}


def test_pbf_graph_matches_trips(spark, pbf_fixture):
    """End-to-end reference lifecycle: PBF → graph → HMM match. The PBF
    graph must produce the IDENTICAL matched-edge sequences as a graph
    built directly from the decoded tables (decode is the only
    quantization; the relational pipeline is shared)."""
    from routers_spark.fixtures.roads import walk_trips
    from routers_spark.io.osm_pbf import osm_pbf_to_graph
    from routers_spark.matching.matcher import match_trips

    path, nodes, _ = pbf_fixture
    nodes_df, edges_df = osm_pbf_to_graph(spark, path)
    nodes_pdf = nodes_df.toPandas()
    edges_pdf = edges_df.toPandas()
    trips = walk_trips(nodes_pdf,
                       edges_pdf.rename(columns={"edge_id": "edge_id"}),
                       n_trips=6, points_per_trip=8, seed=5)
    out = match_trips(spark.createDataFrame(trips), nodes_df, edges_df) \
        .toPandas()
    assert (out["status"] == "matched").all()
    valid = set(edges_pdf["edge_id"])
    assert set(out["edge_id"]).issubset(valid)


def test_blob_payload_lzma_and_unknown():
    """Spec compression coverage: lzma (field 4) decodes via stdlib; lz4
    (6) / zstd (7) either decode via the optional lib or raise a clear
    install-hint ValueError; a blob with no payload field raises."""
    import lzma
    from routers_spark.io.osm_pbf import _blob_payload, _enc_int, _enc_tag

    block = b"hello pbf block"
    raw = _enc_int(2, len(block)) + _enc_tag(4, lzma.compress(block))
    assert _blob_payload(raw) == block

    for fno, lib, compress in (
        (6, "lz4.frame", lambda b, m: m.frame.compress(b)),
        (7, "zstandard", lambda b, m: m.ZstdCompressor().compress(b)),
    ):
        try:
            import importlib

            mod = importlib.import_module(lib.split(".")[0])
            payload = compress(block, mod)
            raw = _enc_int(2, len(block)) + _enc_tag(fno, payload)
            assert _blob_payload(raw) == block
        except ImportError:
            raw = _enc_int(2, len(block)) + _enc_tag(fno, b"\x00")
            with pytest.raises(ValueError, match="install"):
                _blob_payload(raw)

    with pytest.raises(ValueError, match="supported encoding"):
        _blob_payload(_enc_int(2, 3))


def test_concat_packed_matches_per_buffer():
    """r6 #11: the batched multi-buffer decode must agree with one
    decode_packed_varints call per buffer, including empty buffers at
    every position."""
    from routers_spark.io.osm_pbf import _concat_packed, encode_varints

    rng = np.random.default_rng(7)
    bufs = [b""]
    expect = [np.empty(0, np.uint64)]
    for n in (1, 2, 3, 7, 50):
        vals = rng.integers(0, 2**63, size=n, dtype=np.uint64)
        vals[0] = rng.choice(np.array([0, 127, 128, 2**64 - 1],
                                      dtype=np.uint64))
        bufs.append(encode_varints(vals))
        expect.append(vals)
        bufs.append(b"")  # empties interleaved
        expect.append(np.empty(0, np.uint64))
    got_vals, got_counts = _concat_packed(bufs)
    np.testing.assert_array_equal(got_counts,
                                  np.array([len(e) for e in expect]))
    np.testing.assert_array_equal(
        got_vals, np.concatenate(expect).astype(np.uint64))


def test_ways_block_batched_decode_parity(pbf_fixture):
    """r6 #11: _decode_ways_block's batched packed-field decode is
    bit-identical to a straightforward per-way decode of the same blobs
    (ids, per-way refs, per-way tags), tagless/refless ways included."""
    from routers_spark.io.osm_pbf import (
        _blob_payload,
        _decode_ways_block,
        _fields,
        _parse_block,
    )

    path, _, ways_pdf = pbf_fixture

    def reference_decode(data: bytes) -> pd.DataFrame:
        strings, groups, *_ = _parse_block(data)
        wid_c, refs_c, tags_c = [], [], []
        for g in groups:
            for fno, _, v in _fields(g):
                if fno != 3:
                    continue
                wid, keys, vals, refs = None, None, None, None
                for f2, _, v2 in _fields(v):
                    if f2 == 1:
                        wid = v2
                    elif f2 == 2:
                        keys = decode_packed_varints(v2)
                    elif f2 == 3:
                        vals = decode_packed_varints(v2)
                    elif f2 == 8:
                        refs = np.cumsum(unzigzag(decode_packed_varints(v2)))
                if wid is None:
                    continue
                wid_c.append(int(wid))
                refs_c.append(refs.astype(np.int64).tolist()
                              if refs is not None else [])
                tags_c.append({strings[int(k)]: strings[int(va)]
                               for k, va in zip(keys, vals)}
                              if keys is not None and vals is not None
                              else {})
        return pd.DataFrame({"way_id": pd.Series(wid_c, dtype=np.int64),
                             "refs": refs_c, "tags": tags_c})

    import os
    import tempfile

    # edge-case corpus: a tagless way, a refless way, and a bare way,
    # interleaved with normal ones
    edge_ways = pd.DataFrame({
        "way_id": pd.Series([11, 12, 13, 14], dtype=np.int64),
        "refs": [[5, 6, 7], [], [1, 2], []],
        "tags": [{"highway": "residential"}, {"highway": "service"}, {}, {}],
    })
    edge_nodes = pd.DataFrame({
        "node_id": np.array([1, 2, 5, 6, 7], dtype=np.int64),
        "lon": np.zeros(5), "lat": np.zeros(5),
    })
    # a block where EVERY way is refless (the batched delta-decode must
    # handle an empty global cumsum)
    refless_ways = pd.DataFrame({
        "way_id": pd.Series([21, 22], dtype=np.int64),
        "refs": [[], []],
        "tags": [{"highway": "service"}, {}],
    })
    with tempfile.TemporaryDirectory() as td:
        edge_path = os.path.join(td, "edge.osm.pbf")
        write_osm_pbf(edge_path, edge_nodes, edge_ways)
        refless_path = os.path.join(td, "refless.osm.pbf")
        write_osm_pbf(refless_path, edge_nodes, refless_ways)
        for p, expect_n in ((path, len(ways_pdf)), (edge_path, 4),
                            (refless_path, 2)):
            desc = scan_blobs(p)
            desc = desc[desc["blob_type"] == "OSMData"]
            n_ways = 0
            with open(p, "rb") as f:
                for r in desc.itertuples(index=False):
                    f.seek(int(r.offset))
                    payload = _blob_payload(f.read(int(r.size)))
                    got = _decode_ways_block(payload)
                    ref = reference_decode(payload)
                    assert list(got["way_id"]) == list(ref["way_id"])
                    assert list(got["refs"]) == list(ref["refs"])
                    assert list(got["tags"]) == list(ref["tags"])
                    n_ways += len(got)
            assert n_ways == expect_n
