"""Cell-encoder parity: numpy kernels vs dual-dialect SQL vs the reference's
subdivision-loop semantics (ported as a scalar oracle). Mirrors the
reference's encode round-trip tests (libs/routers_shard/tests/geohash.rs,
tests/quadtree.rs) and pinned hash vectors
(libs/routers_realtime/src/partition.rs:345-378)."""

import duckdb
import numpy as np
import pytest

from routers_spark.functions import cells, hashing, sqlgen

RNG = np.random.default_rng(7)
LON = RNG.uniform(-180, 180, 500)
LAT = RNG.uniform(-90, 90, 500)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pts AS SELECT * FROM"
        " (SELECT unnest(?) rid, unnest(?) lon, unnest(?) lat)",
        [list(range(len(LON))), LON.tolist(), LAT.tolist()],
    )
    return con


def test_geohash_np_matches_reference_loop():
    # odd precisions end on a lon bit, even ones on a lat bit
    for p in range(1, 13):
        got = cells.geohash_str_np(LON, LAT, p)
        exp = [cells.geohash_subdivide_scalar(a, b, p) for a, b in zip(LON, LAT)]
        assert list(got) == exp


def _duck_program(duck, encode, *args):
    """Render ``encode`` (a sqlgen ``p_*`` form) over pts, in rid order."""
    prog = sqlgen.Program("SELECT rid, lon, lat FROM pts", ["rid", "lon", "lat"])
    col = encode(prog, sqlgen.DUCKDB, "lon", "lat", *args)
    sql = f"SELECT v FROM ({prog.render(['rid', f'{col} AS v'])}) ORDER BY rid"
    return [r[0] for r in duck.execute(sql).fetchall()]


def test_geohash_duckdb_matches_np(duck):
    # precision 5 (25 bits) pins the odd-bit branch spatial_cell_join uses
    for p in (4, 5, 8):
        assert _duck_program(duck, sqlgen.p_geohash_str, p) == \
            list(cells.geohash_str_np(LON, LAT, p))
        assert _duck_program(duck, sqlgen.p_geohash_int, p) == \
            cells.geohash_int_np(LON, LAT, p).tolist()


def test_geohash_bounds_roundtrip():
    # encode → bounds → the point is inside; re-encoding any interior point
    # of the cell gives the same hash (tests/geohash.rs analog)
    for lon, lat in zip(LON[:50], LAT[:50]):
        gh = cells.geohash_subdivide_scalar(lon, lat, 6)
        min_x, min_y, max_x, max_y = cells.geohash_bounds(gh)
        assert min_x <= lon < max_x or lon == 180.0
        assert min_y <= lat < max_y or lat == 90.0
        cx, cy = 0.5 * (min_x + max_x), 0.5 * (min_y + max_y)
        assert cells.geohash_subdivide_scalar(cx, cy, 6) == gh


def test_quadkey_duckdb_matches_np(duck):
    for d in (5, 9, 20):
        got = _duck_program(duck, sqlgen.p_quadkey, d)
        assert got == cells.quadkey_np(LON, LAT, d).tolist()


def test_quadkey_reference_subdivision_semantics():
    # literal port of quadtree.rs:88-123 as scalar oracle
    def locate(px, py, depth):
        min_x, max_x, min_y, max_y = -180.0, 180.0, -90.0, 90.0
        px = min(max(px, min_x), max_x)
        py = min(max(py, min_y), max_y)
        bits = 0
        for level in range(depth):
            mid_x = 0.5 * (min_x + max_x)
            mid_y = 0.5 * (min_y + max_y)
            east = px >= mid_x
            north = py >= mid_y
            q = (north << 1) | east
            bits |= q << (2 * level)
            if east:
                min_x = mid_x
            else:
                max_x = mid_x
            if north:
                min_y = mid_y
            else:
                max_y = mid_y
        return bits

    got = cells.quadkey_np(LON[:100], LAT[:100], 9)
    exp = [locate(a, b, 9) for a, b in zip(LON[:100], LAT[:100])]
    assert list(got) == exp


def test_hilbert_bijective_and_adjacent():
    order = 6
    n = 1 << order
    xs, ys = np.meshgrid(np.arange(n), np.arange(n))
    h = cells.hilbert_xy2h_np(xs.ravel(), ys.ravel(), order)
    assert len(np.unique(h)) == n * n          # bijection onto [0, 4^order)
    assert h.min() == 0 and h.max() == n * n - 1
    # curve continuity: consecutive indices are grid neighbours
    order_idx = np.argsort(h)
    gx, gy = xs.ravel()[order_idx], ys.ravel()[order_idx]
    step = np.abs(np.diff(gx)) + np.abs(np.diff(gy))
    assert np.all(step == 1)


def test_hilbert_duckdb_cte_matches_np(duck):
    sx, sy = sqlgen.slippy_xy_expr(sqlgen.DUCKDB, "lon", "lat", 10)
    src = f"SELECT lon, lat, {sx} AS tx, {sy} AS ty FROM pts"
    sql = sqlgen.hilbert_xy2h_cte_sql(sqlgen.DUCKDB, src, "tx", "ty", 10, ["lon", "lat"])
    got = duck.execute(sql).fetchnumpy()["hilbert"]
    nx, ny = cells.slippy_xy_np(LON, LAT, 10)
    assert np.array_equal(got, cells.hilbert_xy2h_np(nx, ny, 10))


def test_slippy_known_tile():
    # project.rs doc example region: central-Europe tile (4, 8) at z=5 is
    # lon/lat around (-135+?..): use OSM wiki reference point instead —
    # (lon=13.377, lat=52.516) Berlin at z=12 → tile (2200, 1343)
    x, y = cells.slippy_xy_np([13.377], [52.516], 12)
    assert (x[0], y[0]) == (2200, 1343)


def test_slippy_duckdb_matches_np(duck):
    for z in (5, 12, 19):
        sx, sy = sqlgen.slippy_xy_expr(sqlgen.DUCKDB, "lon", "lat", z)
        got = duck.execute(f"SELECT {sx} x, {sy} y FROM pts").fetchnumpy()
        nx, ny = cells.slippy_xy_np(LON, LAT, z)
        assert np.array_equal(got["x"], nx)
        assert np.array_equal(got["y"], ny)


def test_pinned_hash_vectors():
    # partition.rs:345-359 reference vectors
    assert hashing.fnv1a_np(b"") == 0xCBF29CE484222325
    assert hashing.fnv1a_np(b"a") == 0xAF63DC4C8601EC8C
    assert hashing.fnv1a_np(b"vehicle-42") == 0xF4DCEA256EDE2C6C
    assert int(hashing.partition_of_np(np.uint64(1))) == 485
    assert int(hashing.partition_of_np(np.uint64(0xDEADBEEF))) == 746
    assert int(hashing.partition_of_np(np.uint64(2**64 - 1))) == 379


def test_partition_spread():
    # partition.rs:363-378 spread test analog: all partitions hit, roughly even
    ids = np.arange(100_000, dtype=np.uint64)
    parts = hashing.partition_of_np(ids)
    counts = np.bincount(parts, minlength=1024)
    assert counts.min() > 0
    assert counts.max() / counts.mean() < 1.5


def test_partition_duckdb_matches_np(duck):
    ids = RNG.integers(-(2**63), 2**63 - 1, 300, dtype=np.int64)
    duck.execute("CREATE OR REPLACE TABLE ids AS SELECT unnest(?) v", [ids.tolist()])
    sql = hashing.partition_of_sql("v", sqlgen.DUCKDB)
    got = duck.execute(f"SELECT {sql} FROM ids").fetchnumpy()
    assert np.array_equal(
        list(got.values())[0], hashing.partition_of_np(ids.view(np.uint64))
    )


def test_dbscan_gate_eps_has_wide_margin():
    """The dbscan_clusters oracle decides membership with haversine <= 800
    computed by two different libms — sound only because the event-lattice
    distance classes leave a wide margin around eps. Pin that margin: no
    inter-position distance within 50 m of the 800 m threshold (libm
    differences are ~1e-9 m; duplicate positions sit at exactly 0)."""
    import numpy as np

    from routers_spark.functions.geo import haversine_m_np

    m = np.arange(4096, dtype=np.int64)
    lon = -118.5 + ((m * 48271) % 4096).astype(np.float64) * 1.5e-4
    lat = 33.7 + ((m * 69621) % 4096).astype(np.float64) * 1.0e-4
    # bbox prefilter keeps the all-pairs check cheap
    close = []
    for i in range(len(m)):
        cand = np.flatnonzero((np.abs(lon - lon[i]) < 0.012)
                              & (np.abs(lat - lat[i]) < 0.012))
        cand = cand[cand > i]
        if len(cand):
            d = haversine_m_np(lon[i], lat[i], lon[cand], lat[cand])
            close.extend(d[np.abs(d - 800.0) < 200.0].tolist())
    close = np.array(close)
    assert len(close)  # the ~720 m and ~900 m classes exist
    assert (np.abs(close - 800.0) > 50.0).all()


def test_non_finite_points_get_no_cell():
    """NaN or infinite coordinates lie in no cell (None / -1), not in the
    cell their int64 cast lands in; every finite point keeps its cell."""
    lon = np.array([np.nan, 0.0, np.inf, 12.5, -np.inf, 12.5])
    lat = np.array([0.0, np.nan, 3.0, -7.25, np.nan, -7.25])
    bad = np.array([True, True, True, False, True, False])
    for p in (5, 8):
        got = cells.geohash_str_np(lon, lat, p)
        assert list(got[bad]) == [None] * 4
        assert list(got[~bad]) == list(
            cells.geohash_str_np(lon[~bad], lat[~bad], p))
        gi = cells.geohash_int_np(lon, lat, p)
        assert (gi[bad] == -1).all()
        assert (gi[~bad] == cells.geohash_int_np(lon[~bad], lat[~bad],
                                                 p)).all()
    qk = cells.quadkey_np(lon, lat, 9)
    assert (qk[bad] == -1).all()
    assert (qk[~bad] == cells.quadkey_np(lon[~bad], lat[~bad], 9)).all()
    # all-finite input keeps the plain string array
    assert cells.geohash_str_np(LON, LAT, 5).dtype.kind == "U"
