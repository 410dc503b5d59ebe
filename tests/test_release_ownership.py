"""One owner for every persist and checkpoint: ``operators/cache.py``.

Only that module may call ``.persist()`` or ``.localCheckpoint()``, so
``release_tracked()`` can free everything a query left behind — the
contract a long-lived library session needs (no ``clearCache()``)."""

from __future__ import annotations

import pathlib

import pytest

from us_flight_delay_data_pipeline_spark.operators.cache import (
    release_tracked)
from us_flight_delay_data_pipeline_spark.queries import load_registry

PACKAGE = (pathlib.Path(__file__).resolve().parent.parent
           / "us_flight_delay_data_pipeline_spark")


def test_only_cache_module_persists_or_checkpoints():
    owner = PACKAGE / "operators" / "cache.py"
    offenders = [
        f"{path.relative_to(PACKAGE)}:{i}"
        for path in sorted(PACKAGE.rglob("*.py")) if path != owner
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if any(call in line for call in
               (".persist(", ".cache(", ".localCheckpoint("))]
    assert not offenders, offenders


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("name", [
    "dedup_clusters", "dedup_clusters_star", "knn_semantic_clusters",
    "pagerank_trade_graph", "vocab_coverage", "monthly_spine_gapfill",
    "bpe_merges"])
def test_query_leaves_nothing_after_release_tracked(spark, sf_dir, name):
    release_tracked()
    before = _persistent_rdds(spark)
    df = load_registry()[name].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    release_tracked()
    assert _persistent_rdds(spark) <= before
