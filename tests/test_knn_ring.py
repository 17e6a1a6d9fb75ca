"""X3/X7 kNN ring expansion: the engine's radius-3 two-stage form must be
row-for-row identical to the one-shot radius-1 SQL (the oracle's shape).

This pins r6 change #10's exactness argument: the ring radius only decides
which events are RESOLVED by the ring versus the fallback scan — an
accepted ring winner is the provable global nearest under the conservative
block-boundary guarantee, so the final (event_id, nearest_station, dist_m)
set is radius-independent.
"""

from __future__ import annotations


def test_knn_radius3_matches_oneshot_sql(spark, sf_dir):
    from routers_spark.queries import (
        _knn_spark_materialized,
        oracle_sql,
        register_views,
    )

    # the oracle text is plain SQL that Spark parses as well
    register_views(spark, sf_dir)
    oneshot = spark.sql(oracle_sql()["knn_nearest_station"])
    staged = _knn_spark_materialized(spark, sf_dir)

    a = sorted(map(tuple, oneshot.collect()))
    b = sorted(map(tuple, staged.collect()))
    assert len(a) == len(b) > 0
    # dist_m comes from the same haversine expression on both paths —
    # exact equality expected, not approximate
    assert a == b


def test_knn_fallback_still_exercised(spark, sf_dir):
    """The radius-3 guarantee must not silently become 'everything passes'
    — on the sf0.001 corpus some events still take the fallback scan, so
    both branches of the union stay covered."""
    from routers_spark.queries import _knn_ctes, register_views

    register_views(spark, sf_dir)
    c = _knn_ctes(radius=3)
    ctes = ",\n".join(f"{n} AS ({c[n]}\n)"
                      for n in ("ev", "ev_g", "st", "nbr", "ring"))
    counts = spark.sql(f"""WITH {ctes}
        SELECT count(DISTINCT event_id) AS resolved,
               (SELECT count(*) FROM ev_g) AS total
        FROM (SELECT event_id, min(dist_m) AS d, min(g_m) AS g
              FROM ring GROUP BY event_id)
        WHERE d <= g""").collect()[0]
    assert 0 < counts.resolved < counts.total


def test_knn_materialized_leaves_no_cached_frame(spark, sf_dir):
    """Repeated calls in one session leave nothing in the CacheManager
    (ring_best is a local checkpoint like ev_g, not a persist() that no one
    unpersists) and no temp view of their own in the catalog; the frame a
    call returns still runs after its views are gone."""
    from routers_spark.queries import _knn_spark_materialized, register_views

    spark.catalog.clearCache()
    register_views(spark, sf_dir)
    tables = sorted(t.name for t in spark.catalog.listTables())
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    for _ in range(2):
        df = _knn_spark_materialized(spark, sf_dir)
        assert sorted(t.name for t in spark.catalog.listTables()) == tables
        assert df.count() > 0
        assert cache_manager.isEmpty()
