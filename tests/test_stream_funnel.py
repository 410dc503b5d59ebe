"""Streaming pretrain funnel (SURVEY.md §5 strategy 4 applied to the
[EXT] north star): replaying the documents corpus through
``stream_pretrain_funnel`` in micro-batches must reproduce the BATCH
``pretrain_funnel``'s survivor set — the cross-batch dedup state
(seen-hash set + exact inverted prefix index) stands in for the
global shuffles the batch plan gets for free."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from us_flight_delay_data_pipeline_spark.operators.cache import (
    release_tracked)
from us_flight_delay_data_pipeline_spark.plans.pretrain import pretrain_funnel
from us_flight_delay_data_pipeline_spark.streaming.funnel import (
    prepare_benchmark_shingles, stream_pretrain_funnel)

DOC_SCHEMA = ("doc_id bigint, lang string, source string, text string")


def _docs(spark, sf_dir):
    return (spark.read
            .parquet(os.path.join(sf_dir, "documents.parquet"))
            .select("doc_id", "lang", "source", "text"))


@pytest.fixture(scope="module")
def replay(spark, sf_dir, tmp_path_factory):
    """The corpus written as 4 doc_id-ordered waves (one file per
    micro-batch). Ordered arrival makes 'earliest kept' == 'min
    doc_id kept', the batch funnel's canonical rule."""
    root = tmp_path_factory.mktemp("funnel")
    drop = str(root / "drop")
    docs = _docs(spark, sf_dir).orderBy("doc_id").collect()
    quarter = (len(docs) + 3) // 4
    for i in range(4):
        wave = docs[i * quarter:(i + 1) * quarter]
        if wave:
            spark.createDataFrame(wave, DOC_SCHEMA) \
                 .coalesce(1).write.mode("append").parquet(drop)
    return str(root), drop


def _run_stream(spark, sf_dir, root, drop, tag):
    state = os.path.join(root, f"state_{tag}")
    prepare_benchmark_shingles(
        _docs(spark, sf_dir).filter(F.col("source") == "src0"),
        os.path.join(state, "bench_shingles"))
    src = (spark.readStream.schema(DOC_SCHEMA)
           .option("maxFilesPerTrigger", 1).parquet(drop))
    q = stream_pretrain_funnel(
        src, state_dir=state, checkpoint=os.path.join(root, f"ckpt_{tag}"),
        out_path=os.path.join(root, f"out_{tag}"),
        stats_path=os.path.join(root, f"stats_{tag}"))
    q.awaitTermination(300)
    return (spark.read.parquet(os.path.join(root, f"out_{tag}")),
            spark.read.parquet(os.path.join(root, f"stats_{tag}")))


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture(scope="module")
def streamed(spark, sf_dir, replay):
    """(out, stats, persistent RDD count before the stream)."""
    root, drop = replay
    release_tracked()
    before = _persistent_rdds(spark)
    return (*_run_stream(spark, sf_dir, root, drop, "a"), before)


def test_stream_matches_batch_funnel_survivors(spark, sf_dir, streamed):
    """The whole point: incremental state == global batch semantics,
    exactly — the prefix-filter index has no banding false negatives,
    so the survivor count must equal the batch funnel's."""
    out, _, _ = streamed
    docs = _docs(spark, sf_dir)
    funnel = pretrain_funnel(docs)
    n_sample = (funnel.filter(F.col("stage") == "sample")
                      .collect()[0]["n_docs"])
    got_ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert len(got_ids) == out.count()  # no doc emitted twice
    assert len(got_ids) == n_sample


def test_stream_stats_funnel_shape(streamed):
    out, stats, _ = streamed
    # 4 batches x 6 stages, monotone within each batch
    per_batch = (stats.groupBy("batch_id")
                      .pivot("stage_idx", list(range(6)))
                      .sum("n_docs").collect())
    assert len(per_batch) == 4
    for row in per_batch:
        counts = [row[str(i)] for i in range(6)]
        assert all(a >= b for a, b in zip(counts, counts[1:])), counts
    # emitted survivors == sum of per-batch sample counts
    total_sampled = (stats.filter(F.col("stage") == "sample")
                          .agg(F.sum("n_docs")).collect()[0][0])
    assert out.count() == total_sampled


def test_stream_releases_per_batch_intermediates(spark, streamed):
    """A long-running stream must not accumulate each batch's persists
    and checkpoint pins: after the 4-batch stream one release_tracked()
    (for the lazily-held builder persists) returns the session to its
    pre-stream count."""
    _, _, before = streamed
    release_tracked()
    assert _persistent_rdds(spark) <= before


@pytest.mark.slow  # fast-profile exclusion (see pytest.ini)
def test_cross_batch_duplicate_dropped(spark, sf_dir, replay, tmp_path):
    """An exact copy arriving in a LATER batch must be dropped by the
    persisted seen-hash state."""
    root, _ = replay
    base = _docs(spark, sf_dir).orderBy("doc_id").limit(40).collect()
    drop2 = str(tmp_path / "drop2")
    spark.createDataFrame(base, DOC_SCHEMA) \
         .coalesce(1).write.mode("append").parquet(drop2)
    # wave 2: exact copies with new ids — every one must vanish
    copies = [(r["doc_id"] + 10_000_000, r["lang"], r["source"], r["text"])
              for r in base]
    spark.createDataFrame(copies, DOC_SCHEMA) \
         .coalesce(1).write.mode("append").parquet(drop2)
    out, stats = _run_stream(spark, sf_dir, str(tmp_path), drop2, "dup")
    assert out.filter(F.col("doc_id") >= 10_000_000).count() == 0
    second = (stats.filter((F.col("batch_id") == 1)
                           & (F.col("stage") == "exact_dedup"))
                   .collect()[0]["n_docs"])
    assert second == 0


@pytest.mark.slow  # fast-profile exclusion (see pytest.ini)
def test_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Crash-replay safety: running the SAME batch twice (what
    foreachBatch does when a failure lands between the state writes
    and the checkpoint commit) must leave output, stats, and dedup
    state identical to running it once — the replayed batch must not
    anti-join against its own persisted hashes/signatures (which
    would silently drop every doc), nor double-append stats."""
    from us_flight_delay_data_pipeline_spark.streaming.funnel import (
        run_funnel_batch)
    root = str(tmp_path)
    state = os.path.join(root, "state")
    out_path = os.path.join(root, "out")
    stats_path = os.path.join(root, "stats")
    docs = _docs(spark, sf_dir).orderBy("doc_id").limit(200)
    half = docs.filter(F.col("doc_id") < 100)
    kw = dict(state_dir=state, out_path=out_path, stats_path=stats_path)

    run_funnel_batch(half, 0, **kw)
    first_out = sorted(r["doc_id"] for r in
                       spark.read.parquet(out_path).collect())
    first_stats = sorted(map(tuple, spark.read.parquet(stats_path)
                             .select("stage", "n_docs").collect()))
    assert first_out, "batch 0 must emit survivors"

    # replay batch 0 (state for batch 0 already persisted)
    run_funnel_batch(half, 0, **kw)
    replay_out = sorted(r["doc_id"] for r in
                        spark.read.parquet(out_path).collect())
    replay_stats = sorted(map(tuple, spark.read.parquet(stats_path)
                              .select("stage", "n_docs").collect()))
    assert replay_out == first_out          # no data loss, no dupes
    assert replay_stats == first_stats      # no double-append

    # a LATER batch must still dedup against batch 0's state
    run_funnel_batch(docs.filter(F.col("doc_id") >= 100).unionByName(half),
                     1, **kw)
    all_out = spark.read.parquet(out_path)
    ids = [r["doc_id"] for r in all_out.select("doc_id").collect()]
    assert len(ids) == len(set(ids))        # batch-0 docs not re-emitted
