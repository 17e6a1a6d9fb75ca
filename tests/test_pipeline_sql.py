"""SQL-twin parity: the dual-dialect minhash/simhash oracles must equal the
numpy engine kernels bit-for-bit (DuckDB side; the Spark side is covered by
the driver gate + tools/check_oracle.py)."""

import duckdb
import numpy as np
import pytest

from routers_spark import queries as Q
from routers_spark.pipeline.dedup import minhash_signature, simhash64

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumped over the lazy dog"),
    (2, "pack my box with five dozen liquor jugs"),
    (3, "sphinx of black quartz judge my vow"),
    (4, "a" * 40),
    (5, "abcde"),  # exactly one shingle
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT unnest(?) AS doc_id, unnest(?) AS text",
        [[d for d, _ in DOCS], [t for _, t in DOCS]],
    )
    return con


def test_minhash_sql_matches_numpy(duck):
    sql = Q._q_minhash("duckdb")
    got = duck.execute(sql + " ORDER BY doc_id").df()
    assert len(got) == len(DOCS)
    for i, (did, text) in enumerate(DOCS):
        sig = minhash_signature(text).astype(np.int64)
        row = got.iloc[i]
        assert int(row["doc_id"]) == did
        for j in range(8):
            assert int(row[f"mh{j}"]) == sig[j], (did, j)


def test_simhash_sql_matches_numpy(duck):
    sql = Q._q_simhash("duckdb")
    got = duck.execute(sql + " ORDER BY doc_id").df()
    for i, (did, text) in enumerate(DOCS):
        assert int(got.iloc[i]["simhash"]) == int(np.int64(simhash64(text))), did


def test_scalar_costing_matches_numpy():
    # the matcher's scalar hot path must agree with the vectorized kernels
    from routers_spark.functions.geo import bearing_deg_np, haversine_m_np
    from routers_spark.matching.costing import (
        bearing_s,
        complexity_from_headings,
        complexity_scalar,
        haversine_s,
        headings_from_positions,
        headings_scalar,
    )

    rng = np.random.default_rng(2)
    lons = rng.uniform(-118.5, -118.4, 20)
    lats = rng.uniform(33.7, 33.8, 20)
    for i in range(19):
        assert haversine_s(lons[i], lats[i], lons[i + 1], lats[i + 1]) == pytest.approx(
            haversine_m_np(lons[i], lats[i], lons[i + 1], lats[i + 1]), abs=1e-9
        )
        assert bearing_s(lons[i], lats[i], lons[i + 1], lats[i + 1]) == pytest.approx(
            bearing_deg_np(lons[i], lats[i], lons[i + 1], lats[i + 1]), abs=1e-9
        )
    hs = headings_scalar(lons.tolist(), lats.tolist())
    hv = headings_from_positions(lons, lats)
    assert np.allclose(hs, hv, atol=1e-9)
    assert complexity_scalar(hs) == pytest.approx(
        complexity_from_headings(np.asarray(hs)), abs=1e-12
    )
