"""SQL-oracle parity: the DuckDB minhash/simhash oracles must equal the
numpy engine kernels bit-for-bit (the Spark side runs those kernels and is
covered by the driver gate + tools/check_oracle.py)."""

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
    sql = Q._q_minhash()
    got = duck.execute(sql + " ORDER BY doc_id").df()
    assert len(got) == len(DOCS)
    for i, (did, text) in enumerate(DOCS):
        sig = minhash_signature(text).astype(np.int64)
        row = got.iloc[i]
        assert int(row["doc_id"]) == did
        for j in range(8):
            assert int(row[f"mh{j}"]) == sig[j], (did, j)


def test_simhash_sql_matches_numpy(duck):
    sql = Q._q_simhash()
    got = duck.execute(sql + " ORDER BY doc_id").df()
    for i, (did, text) in enumerate(DOCS):
        assert int(got.iloc[i]["simhash"]) == int(np.int64(simhash64(text))), did
