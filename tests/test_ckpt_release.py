"""Checkpoint-lifecycle pins for the iterative operators.

dedup_clusters_star's 18-62 s in-session spread traced to superseded
localCheckpoint blocks accumulating across rounds (GC-based cleanup
is nondeterministic). The operators release each round's blocks the
moment the next round is materialized — these tests pin (a)
``cache.release`` actually frees executor storage and only frees
checkpoints taken by ``cache.checkpoint``, (b) a multi-round CC run
leaves only its FINAL round's blocks behind, i.e. storage is O(1) in
rounds, and (c) ``release_tracked`` frees that final round too.
"""

import time

import pytest
from pyspark.sql import functions as F

from us_flight_delay_data_pipeline_spark.operators import cache
from us_flight_delay_data_pipeline_spark.operators.cache import (
    checkpoint, release, release_tracked)


def _storage_blocks(spark):
    sc = spark.sparkContext
    return [(i.name(), i.memSize())
            for i in sc._jsc.sc().getRDDStorageInfo()]


def _settled(spark, base, what, deadline=10.0):
    # unpersist is non-blocking: block-count updates lag briefly
    end = time.time() + deadline
    while time.time() < end:
        n = len(_storage_blocks(spark))
        if n <= base:
            return n
        time.sleep(0.2)
    raise AssertionError(
        f"{what}: {len(_storage_blocks(spark)) - base} blocks leaked")


def test_release_frees_checkpoint_blocks(spark):
    spark.catalog.clearCache()
    before = len(_storage_blocks(spark))
    df = checkpoint(spark.range(10_000).selectExpr("id", "id % 7 AS k"))
    assert len(_storage_blocks(spark)) > before
    release(df)
    assert len(_storage_blocks(spark)) == before


def test_release_traverses_projections(spark):
    """The loop variable is usually ckpt.select(...) — the LogicalRDD
    leaf under the projection must still be found and freed."""
    spark.catalog.clearCache()
    before = len(_storage_blocks(spark))
    ckpt = checkpoint(spark.range(10_000).selectExpr("id", "id % 7 AS k"))
    release(ckpt.select("id"))
    assert len(_storage_blocks(spark)) == before


def test_release_noops_on_plain_plans(spark):
    df = spark.range(100).selectExpr("id")
    release(df)  # must not raise
    assert df.count() == 100


def test_star_cc_storage_constant_in_rounds(spark):
    """A long-path graph forces many star rounds; afterwards at most
    the FINAL round's edge-set blocks may remain (the returned labels
    still read them) — not one set per round."""
    from us_flight_delay_data_pipeline_spark.operators.components import (
        connected_components_star)

    spark.catalog.clearCache()
    base = len(_storage_blocks(spark))
    # one 64-node path => diameter 63, several star rounds
    edges = spark.range(63).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    labels = connected_components_star(edges)
    assert labels.filter("component <> 0").count() == 0
    # final pairs checkpoint (and nothing per-round) may linger
    leftover = len(_storage_blocks(spark)) - base
    assert leftover <= 1, f"per-round checkpoint blocks leaked: {leftover}"
    release_tracked()  # ... until the caller is done with the labels
    _settled(spark, base, "final star round after release_tracked")


def test_min_label_cc_storage_constant_in_rounds(spark):
    from us_flight_delay_data_pipeline_spark.operators.components import (
        connected_components)

    spark.catalog.clearCache()
    base = len(_storage_blocks(spark))
    edges = spark.range(20).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    labels = connected_components(edges, max_iter=25)
    assert labels.filter("component <> 0").count() == 0
    leftover = len(_storage_blocks(spark)) - base
    assert leftover <= 1, f"per-round checkpoint blocks leaked: {leftover}"
    release_tracked()
    _settled(spark, base, "final min-label round after release_tracked")


def test_auto_fallback_only_on_convergence_error(spark):
    """connected_components_auto must fall back to the star variant
    ONLY for the dedicated ConvergenceError, not arbitrary failures."""
    from us_flight_delay_data_pipeline_spark.operators.components import (
        ConvergenceError, connected_components_auto)

    # path of length 5 with max_iter=1: min-label cannot converge ->
    # ConvergenceError -> auto falls back to star and still answers
    edges = spark.range(5).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    labels = connected_components_auto(edges, max_iter=1)
    assert labels.filter("component <> 0").count() == 0
    assert issubclass(ConvergenceError, RuntimeError)


def test_convergence_error_releases_final_round_blocks(spark):
    """On the ConvergenceError path the final round's checkpoint
    blocks must be released before raising — without it the
    auto-fallback's star run would sit on top of them."""
    from us_flight_delay_data_pipeline_spark.operators.components import (
        ConvergenceError, connected_components, connected_components_star)

    spark.catalog.clearCache()
    base = len(_storage_blocks(spark))
    edges = spark.range(30).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    with pytest.raises(ConvergenceError):
        connected_components(edges, max_iter=2)
    _settled(spark, base, "min-label leak on raise")
    with pytest.raises(ConvergenceError):
        connected_components_star(edges, max_iter=1)
    _settled(spark, base, "star leak on raise")


def test_pagerank_never_releases_caller_checkpoints(spark):
    """pagerank's per-round release must only free checkpoints IT
    created. Checkpoint-backed edges/nodes inputs — the caller's own,
    or another operator's registered ones — must survive the run and
    stay usable after."""
    from us_flight_delay_data_pipeline_spark.operators.graph import pagerank

    spark.catalog.clearCache()
    edges = (spark.range(40)
             .select(F.col("id").alias("src"),
                     ((F.col("id") + 1) % 40).alias("dst"))
             .localCheckpoint(eager=True))
    nodes = (spark.range(40).select(F.col("id").alias("node"))
             .localCheckpoint(eager=True))
    ranks = pagerank(edges, iterations=3, nodes=nodes,
                     complete_inedges=True)
    assert ranks.count() == 40
    # the caller's checkpoints must still be actionable (released
    # checkpoints raise on any later action — lineage is truncated)
    assert edges.count() == 40
    assert nodes.count() == 40
    # inputs checkpointed through cache.checkpoint (another operator's
    # registered output, e.g. component labels) are not pagerank's
    edges = checkpoint(spark.range(40).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % 40).alias("dst")))
    nodes = checkpoint(spark.range(40).select(F.col("id").alias("node")))
    ranks = pagerank(edges, iterations=3, nodes=nodes,
                     complete_inedges=True)
    assert ranks.count() == 40
    assert edges.count() == 40
    assert nodes.count() == 40


def test_observation_names_unique_across_invocations(spark):
    """Observation names must be unique per invocation so two
    concurrent runs in one session cannot cross-deliver convergence
    metrics (Spark's listener matches by name)."""
    from us_flight_delay_data_pipeline_spark.operators import components

    seen = set()
    orig = components.Observation

    class Spy(orig):
        def __init__(self, name):
            assert name not in seen, f"duplicate observation name {name}"
            seen.add(name)
            super().__init__(name)

    components.Observation = Spy
    try:
        edges = spark.range(6).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        components.connected_components(edges)
        components.connected_components(edges)  # same rounds, new names
        components.connected_components_star(edges)
        components.connected_components_star(edges)
    finally:
        components.Observation = orig
    assert len(seen) >= 4


def test_owned_release_spares_foreign_leaves_in_mixed_plans(spark):
    """A plan whose leaves mix an OWNED checkpoint (taken through
    cache.checkpoint) with a CALLER-supplied one (e.g. a loop variable
    built by joining round state against a checkpoint-backed input):
    release must free only the owned one; the caller's checkpoint must
    stay actionable."""
    spark.catalog.clearCache()
    caller = (spark.range(1_000).selectExpr("id", "id % 5 AS k")
              .localCheckpoint(eager=True))
    owned = checkpoint(spark.range(1_000).selectExpr("id", "id % 3 AS j"))
    mixed = owned.join(caller, "id")  # leaves: BOTH checkpoints
    release(mixed)
    # caller's blocks untouched — still actionable
    assert caller.count() == 1_000
    # owned blocks actually freed (an unpersisted localCheckpoint
    # cannot recompute — any action on `owned` now raises)
    import py4j.protocol
    from pyspark.errors.exceptions.captured import CapturedException
    with __import__("pytest").raises(
            (py4j.protocol.Py4JJavaError, CapturedException, Exception)):
        owned.count()
        raise AssertionError("owned checkpoint survived its release")


def test_owned_release_with_empty_ids_is_noop(spark, monkeypatch):
    """On Connect (no ``_jdf``) checkpoint records nothing — release
    and release_tracked must then degrade to a no-op (GC cleanup), NOT
    sweep every leaf (which would hit foreign checkpoints)."""
    def no_jdf(df):
        raise AttributeError("'DataFrame' object has no attribute '_jdf'")

    with monkeypatch.context() as m:
        m.setattr(cache, "_checkpoint_leaves", no_jdf)
        ckpt = checkpoint(spark.range(100))
        release(ckpt)
    release(ckpt)
    release_tracked()
    assert ckpt.count() == 100  # untouched
