"""Every rendered query text binds: DuckDB plans all oracle texts over the
testdata views, and Spark analyses every shared-SQL text (no action runs),
so a broken render fails here rather than only in tools/check_oracle.py."""

from __future__ import annotations

import pytest

from routers_spark import queries as Q

duckdb = pytest.importorskip("duckdb")

ORACLES = Q.oracle_sql()
SHARED = [n for n, q in Q._SQL_QUERIES.items() if q.build is None]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in Q.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


@pytest.mark.parametrize("name", list(ORACLES))
def test_oracle_text_plans_in_duckdb(duck, name):
    duck.execute(f"EXPLAIN {ORACLES[name]}")


@pytest.mark.parametrize("name", SHARED)
def test_shared_spark_text_analyses_with_oracle_columns(spark, sf_dir, duck,
                                                        name):
    cols = Q.spark_fn(name)(spark, sf_dir).schema.names
    oracle_cols = [r[0] for r in
                   duck.execute(f"DESCRIBE {ORACLES[name]}").fetchall()]
    assert sorted(cols) == sorted(oracle_cols)
