"""S2 cell-id encoding: curve properties, kernel parity, DuckDB oracle
parity, and the gate fixture's boundary-margin guard (the precondition that makes
a float-bearing oracle comparison exact)."""

from __future__ import annotations

import numpy as np
import pytest

from routers_spark.functions import s2
from routers_spark.functions import sqlgen


def _rand_lonlat(n, seed):
    rng = np.random.default_rng(seed)
    lon = rng.uniform(-179.9, 179.9, n)
    lat = rng.uniform(-84.0, 84.0, n)
    return lon, lat


# ------------------------------------------------------------- curve tables


def test_hilbert_tables_are_inverse_bijections():
    # Each orientation's ij->pos map is a permutation of 0..3, and the
    # orientation deltas come from the published 4-entry set.
    for o in range(4):
        assert sorted(s2.KIJTOPOS[o]) == [0, 1, 2, 3]
    assert s2.KPOS_TO_ORIENTATION == (1, 0, 0, 3)


@pytest.mark.parametrize("face", range(6))
def test_hilbert_curve_is_continuous_and_bijective(face):
    # At a small level, the fold over all (i, j) must enumerate every
    # position exactly once (bijective) AND consecutive positions must be
    # grid neighbors (|di|+|dj| == 1) — the defining Hilbert properties.
    # This is independent of any reference implementation.
    level = 5
    shift = s2.MAX_LEVEL - level
    n = 1 << level
    ii, jj = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    i = (ii.ravel().astype(np.int64)) << shift
    j = (jj.ravel().astype(np.int64)) << shift
    pos = s2.hilbert_pos_np(np.full(i.shape, face), i, j) >> (2 * shift)
    assert sorted(pos.tolist()) == list(range(n * n))
    order = np.argsort(pos)
    di = np.abs(np.diff(ii.ravel()[order]))
    dj = np.abs(np.diff(jj.ravel()[order]))
    assert np.all(di + dj == 1)


def test_level_truncation_is_prefix_consistent():
    # pos folded over only the top L bits == leaf pos >> 2*(30-L): the
    # orientation state depends only on the prefix, so truncation and
    # refolding agree.
    lon, lat = _rand_lonlat(500, 7)
    face, u, v = s2.face_uv_np(lon, lat)
    i = s2.st_to_ij_np(s2.uv_to_st_np(u))
    j = s2.st_to_ij_np(s2.uv_to_st_np(v))
    leaf_pos = s2.hilbert_pos_np(face, i, j)
    for level in (4, 12, 21):
        shift = s2.MAX_LEVEL - level
        mask = ~((np.int64(1) << shift) - 1)
        pos_l = s2.hilbert_pos_np(face, (i >> shift) << shift,
                                  (j >> shift) << shift)
        np.testing.assert_array_equal(pos_l >> (2 * shift),
                                      leaf_pos >> (2 * shift))
        del mask


def test_parent_child_containment():
    lon, lat = _rand_lonlat(300, 11)
    leaf = s2_ids = s2.s2_cellid_np(lon, lat)
    for level in (12, 20):
        parent = s2.parent_id_np(leaf, level)
        lsb = np.int64(1) << np.int64(2 * (s2.MAX_LEVEL - level))
        # parent id has its sentinel bit and shares all higher bits
        np.testing.assert_array_equal(parent & lsb, lsb)
        np.testing.assert_array_equal(parent & -(lsb << 1),
                                      s2_ids & -(lsb << 1))
        # range containment the way S2 defines it (unsigned interval):
        lo = (parent - lsb).astype(np.uint64)
        hi = (parent + lsb).astype(np.uint64)
        uleaf = leaf.astype(np.uint64)
        assert np.all((uleaf >= lo) & (uleaf <= hi))


# ------------------------------------------------------- kernel parity


def test_face_anchors():
    # Face centers: the 6 axis directions, in face order.
    lon = [0.0, 90.0, 0.0, 180.0, -90.0, 0.0]
    lat = [0.0, 0.0, 90.0, 0.0, 0.0, -90.0]
    face, u, v = s2.face_uv_np(lon, lat)
    np.testing.assert_array_equal(face, np.arange(6))
    np.testing.assert_allclose(u, 0.0, atol=1e-12)
    np.testing.assert_allclose(v, 0.0, atol=1e-12)
    # center of face 0 => s = t = 0.5, i = j = 2^29
    ids = s2.s2_cellid_np([0.0], [0.0])
    assert ids[0] & 1 == 1  # leaf sentinel
    assert (ids[0] >> 61) == 0  # face 0


def test_faces_4_5_set_sign_bit():
    ids = s2.s2_cellid_np([-90.0, 0.0], [0.0, -90.0])
    assert (ids < 0).all()  # two's-complement convention, faces 4 and 5


# ------------------------------------------------- DuckDB oracle parity


def test_duckdb_sql_matches_numpy_kernel():
    import duckdb

    lon, lat = _rand_lonlat(2000, 19)
    ids = s2.s2_cellid_np(lon, lat)
    parents = s2.parent_id_np(ids, 12)
    con = duckdb.connect()
    con.register("pts", __import__("pandas").DataFrame(
        {"rid": np.arange(len(lon)), "lon": lon, "lat": lat}))
    sql = sqlgen.s2_cellid_cte_sql(
        sqlgen.DUCKDB, "SELECT rid, lon, lat FROM pts", "lon", "lat",
        ["rid"])
    got = con.sql(sql).df().sort_values("rid")
    np.testing.assert_array_equal(got["s2_id"].to_numpy(), ids)
    np.testing.assert_array_equal(got["s2_id_l12"].to_numpy(), parents)
    face, _, _ = s2.face_uv_np(lon, lat)
    np.testing.assert_array_equal(got["s2_face"].to_numpy(), face)


# ------------------------------------------- gate fixture margin guard


def test_gate_fixture_boundary_margins():
    """The cell_encode_s2 oracle comparison is exact only if no fixture
    point sits so close to a discretization boundary that a few-ULP libm
    spread between engines could flip floor()/CASE branches. Assert the
    margins over the full synthetic event id range the sf0.01 and sf0.1
    gates can see."""
    event_id = np.arange(1, 200_001, dtype=np.int64)
    lon = -118.5 + ((event_id * 48271) % 4096).astype(np.float64) * 1.5e-4
    lat = 33.7 + ((event_id * 69621) % 4096).astype(np.float64) * 1.0e-4
    face, u, v = s2.face_uv_np(lon, lat)
    # (1) argmax-face decision margin (relative)
    lonr, latr = np.radians(lon), np.radians(lat)
    x = np.cos(latr) * np.cos(lonr)
    y = np.cos(latr) * np.sin(lonr)
    z = np.sin(latr)
    comps = np.sort(np.abs(np.stack([x, y, z])), axis=0)
    assert float(np.min(comps[2] - comps[1])) > 1e-3
    # (2) u/v sign-branch margin
    assert float(np.min(np.abs(u))) > 1e-6
    assert float(np.min(np.abs(v))) > 1e-6
    # (3) floor boundary margin in units of 2^30 grid cells. The chain
    # is ~10 float ops at <=0.5 ULP engine spread each => <=~2.5e-6 of a
    # cell at |scaled|~5e8; the fixture's observed minimum is ~9e-5
    # (36x). Demand 1e-5 (4x the conservative spread bound).
    for w in (u, v):
        scaled = s2.uv_to_st_np(w) * (1 << s2.MAX_LEVEL)
        frac = scaled - np.floor(scaled)
        assert float(np.min(np.minimum(frac, 1.0 - frac))) > 1e-5


def test_gate_fixture_duckdb_exact_over_full_id_range():
    """Empirical twin of the margin guard: DuckDB evaluates the oracle
    CTE over the entire 200k-event synthetic coordinate range and must
    agree with the numpy kernel on every single id."""
    import duckdb
    import pandas as pd

    event_id = np.arange(1, 200_001, dtype=np.int64)
    lon = -118.5 + ((event_id * 48271) % 4096).astype(np.float64) * 1.5e-4
    lat = 33.7 + ((event_id * 69621) % 4096).astype(np.float64) * 1.0e-4
    ids = s2.s2_cellid_np(lon, lat)
    con = duckdb.connect()
    con.register("pts", pd.DataFrame(
        {"rid": event_id, "lon": lon, "lat": lat}))
    sql = sqlgen.s2_cellid_cte_sql(
        sqlgen.DUCKDB, "SELECT rid, lon, lat FROM pts", "lon", "lat",
        ["rid"])
    got = con.sql(sql).df().sort_values("rid")
    np.testing.assert_array_equal(got["s2_id"].to_numpy(), ids)


def check_s2_parity(spark):
    """with_s2_jvm == the numpy kernel, ids and parents bit for bit; a
    NULL or NaN lon/lat keeps its row with NULL outputs."""
    import pandas as pd

    from routers_spark.functions.s2_jvm import with_s2_jvm

    lon, lat = _rand_lonlat(3000, 31)
    ids = s2.s2_cellid_np(lon, lat)
    parents = s2.parent_id_np(ids, 12)
    sdf = spark.createDataFrame(pd.DataFrame(
        {"rid": np.arange(len(lon)), "lon": lon, "lat": lat}))
    got = (with_s2_jvm(sdf, "lon", "lat")
           .toPandas().sort_values("rid"))
    np.testing.assert_array_equal(got["s2_id"].to_numpy(), ids)
    np.testing.assert_array_equal(got["s2_id_l12"].to_numpy(), parents)
    # NULL or NaN lon/lat -> NULL face and ids, row preserved
    nan = float("nan")
    null_df = spark.createDataFrame(
        [(0, None, None), (1, nan, 20.0), (2, 10.0, nan)],
        "rid long, lon double, lat double")
    nres = with_s2_jvm(null_df, "lon", "lat").toPandas()
    assert sorted(nres["rid"]) == [0, 1, 2]
    for c in ("s2_face", "s2_id", "s2_id_l12"):
        assert nres[c].isna().all(), c


def test_jvm_lookup_matches_numpy_kernel(spark):
    check_s2_parity(spark)


def test_jvm_lookup_plan_is_broadcast_codegen(spark):
    """with_s2_jvm is projections only: no join, no exchange and no
    Python node in the plan."""
    import pandas as pd

    from routers_spark.functions.s2_jvm import with_s2_jvm

    sdf = spark.createDataFrame(pd.DataFrame(
        {"rid": [1], "lon": [10.0], "lat": [20.0]}))
    plan = (with_s2_jvm(sdf, "lon", "lat")
            ._jdf.queryExecution().executedPlan().toString())
    for bad in ("Join", "Exchange", "PythonUDF", "BatchEvalPython",
                "ArrowEvalPython", "FlatMapInPandas", "MapInPandas"):
        assert bad not in plan, bad
