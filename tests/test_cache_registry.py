"""operators/cache.py — registered persists for shared query-builder
intermediates, freed one at a time by ``release`` or all at once by
``release_tracked`` (the hook a long-lived session uses between
queries).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from us_flight_delay_data_pipeline_spark.operators.cache import (
    persist, release, release_tracked)


def test_track_returns_df_and_release_unpersists(spark):
    release_tracked()  # drain any builder-registered state from other tests
    df = persist(spark.range(1000).select("id", (F.col("id") % 3)
                                          .alias("k")))
    df.count()
    assert df.storageLevel.useMemory
    n = release_tracked()
    assert n == 1
    assert not df.storageLevel.useMemory
    assert release_tracked() == 0  # registry drained
    # release() frees one registered persist now and deregisters it
    df = persist(spark.range(10))
    df.count()
    release(df)
    assert not df.storageLevel.useMemory
    assert release_tracked() == 0


def test_release_is_idempotent_after_clearcache(spark):
    release_tracked()
    df = persist(spark.range(10))
    df.count()
    spark.catalog.clearCache()  # a caller already freed it
    assert release_tracked() == 1  # still safe: unpersist is a no-op
    assert df.count() == 10  # persist() is lazy metadata, df still fine


def test_knn_edges_registers_with_tracker(spark, sf_dir):
    """_knn_edges' persists must be releasable without clearCache."""
    from us_flight_delay_data_pipeline_spark.queries.curation_extra import (
        _knn_edges)

    release_tracked()
    edges = _knn_edges(spark, sf_dir)
    edges.count()
    assert release_tracked() >= 2  # the bucketed table + the edge table


def test_triangle_builders_register_with_tracker(spark):
    """triangles_per_node persists three shared frames (canonical
    edges, degrees, oriented edges); all must be registered."""
    from us_flight_delay_data_pipeline_spark.operators.graph import (
        triangles_per_node)

    release_tracked()
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "a bigint, b bigint")
    out = triangles_per_node(edges).collect()
    assert {(r["node"], r["n_tri"]) for r in out} \
        == {(1, 1), (2, 1), (3, 1), (4, 0)}
    assert release_tracked() >= 3
