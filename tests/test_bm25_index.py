"""On-disk BM25 index (operators/bm25.py): the persisted
build/append/probe path must compute exactly what the inline
bm25_topk plan computes, replayed batches must be idempotent, and the
probe must read only the query terms' postings partitions."""

from __future__ import annotations

import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from us_flight_delay_data_pipeline_spark.operators.bm25 import (
    N_TERM_BUCKETS, probe_bm25_index, query_terms, write_bm25_batch)
from us_flight_delay_data_pipeline_spark.queries import load_registry
from us_flight_delay_data_pipeline_spark.sources.registry import load_table

REGISTRY = load_registry()


@pytest.fixture(scope="module")
def index_path(spark, sf_dir):
    path = os.path.join(tempfile.gettempdir(),
                        f"sg_bm25_test_{uuid.uuid4().hex[:10]}")
    docs = load_table(spark, sf_dir, "documents")
    write_bm25_batch(docs.filter(F.col("doc_id") % 4 != 0), path, batch_id=0)
    write_bm25_batch(docs.filter(F.col("doc_id") % 4 == 0), path, batch_id=1)
    yield path
    import shutil
    shutil.rmtree(path, ignore_errors=True)


def _probe_rows(spark, sf_dir, index_path):
    docs = load_table(spark, sf_dir, "documents")
    q = query_terms(docs.filter(F.col("doc_id") < 5))
    return sorted(tuple(r) for r in
                  probe_bm25_index(q, index_path, k=10).collect())


def test_probe_equals_inline(spark, sf_dir, index_path):
    """Two appended batches + probe == the single inline plan,
    row for row (same oracle, same arithmetic)."""
    inline = sorted(tuple(r) for r in
                    REGISTRY["bm25_topk"].fn(spark, sf_dir).collect())
    assert _probe_rows(spark, sf_dir, index_path) == inline


def test_replayed_batch_is_idempotent(spark, sf_dir, index_path):
    """Re-writing batch 1 (a streaming replay) overwrites exactly its
    own partitions — df/stats partials do not double-count."""
    before = _probe_rows(spark, sf_dir, index_path)
    docs = load_table(spark, sf_dir, "documents")
    write_bm25_batch(docs.filter(F.col("doc_id") % 4 == 0), index_path,
                     batch_id=1)
    assert _probe_rows(spark, sf_dir, index_path) == before
    # and the stats table still holds exactly two batch rows
    n = spark.read.parquet(os.path.join(index_path, "stats")).count()
    assert n == 2


def test_probe_prunes_postings_partitions(spark, sf_dir, index_path):
    """The postings scan must carry a term_bucket partition filter —
    the probe reads Σ buckets(query terms), not the whole index."""
    docs = load_table(spark, sf_dir, "documents")
    # a single one-term query touches exactly one bucket
    one = query_terms(docs.filter(F.col("doc_id") == 1)).limit(1)
    plan = probe_bm25_index(one, index_path, k=10) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "term_bucket" in plan.split("PartitionFilters", 1)[1][:400], plan


def test_df_partials_merge_to_global_df(spark, sf_dir, index_path):
    """Per-batch df partials summed at probe time == df of a
    single-batch build over the full corpus."""
    docs = load_table(spark, sf_dir, "documents")
    merged = (spark.read.parquet(os.path.join(index_path, "df"))
                   .groupBy("term").agg(F.sum("df").alias("df")))
    import shutil
    single_path = index_path + "_single"
    try:
        write_bm25_batch(docs, single_path, batch_id=0)
        single = spark.read.parquet(os.path.join(single_path, "df")) \
            .select("term", "df")
        diff = (merged.join(single.withColumnRenamed("df", "df2"), "term",
                            "full_outer")
                      .filter((F.col("df").isNull()) | (F.col("df2").isNull())
                              | (F.col("df") != F.col("df2"))).count())
        assert diff == 0
    finally:
        shutil.rmtree(single_path, ignore_errors=True)


def test_probe_missing_index_raises_descriptive(spark, sf_dir):
    """A probe against a nonexistent index path must fail with a
    descriptive FileNotFoundError, not a bare AnalysisException
    (ADVICE r6)."""
    docs = load_table(spark, sf_dir, "documents")
    q = query_terms(docs.filter(F.col("doc_id") == 1)).limit(1)
    missing = os.path.join(tempfile.gettempdir(),
                           f"sg_bm25_nope_{uuid.uuid4().hex[:8]}")
    with pytest.raises(FileNotFoundError, match="BM25 index not found"):
        probe_bm25_index(q, missing, k=5).collect()


def test_probe_empty_query_set_short_circuits(spark, sf_dir, index_path):
    """An empty (q_id, term) relation returns an empty
    (q_id, doc_id, rank) frame without touching the index."""
    docs = load_table(spark, sf_dir, "documents")
    q = query_terms(docs.filter(F.col("doc_id") < 0))  # empty
    out = probe_bm25_index(q, index_path, k=5)
    assert out.columns == ["q_id", "doc_id", "rank"]
    assert out.count() == 0


def test_probe_validate_catches_overlapping_reingest(spark, sf_dir,
                                                     index_path):
    """validate=True must detect a doc_id ingested under two different
    batch_ids (the silent df/n_docs double-count ADVICE r6 flagged).
    Uses a scratch copy so the shared fixture index stays clean."""
    import shutil
    dirty = index_path + "_dirty"
    shutil.copytree(index_path, dirty)
    try:
        docs = load_table(spark, sf_dir, "documents")
        # re-ingest batch-0 docs under a NEW batch_id -> overlap
        write_bm25_batch(docs.filter(F.col("doc_id") % 4 != 0), dirty,
                         batch_id=7)
        q = query_terms(docs.filter(F.col("doc_id") < 5))
        with pytest.raises(ValueError, match="batch disjointness"):
            probe_bm25_index(q, dirty, k=5, validate=True).collect()
        # the clean index passes the same validation
        assert probe_bm25_index(q, index_path, k=5,
                                validate=True).count() > 0
    finally:
        shutil.rmtree(dirty, ignore_errors=True)


def test_phrase_probe_matches_inline_scan(spark, sf_dir):
    """phrase_search_indexed (positional-postings probe) must produce
    exactly the rows of phrase_search_top_bigram (inline scan) — the
    oracle-shared twin contract."""
    inline = sorted(tuple(r) for r in
                    REGISTRY["phrase_search_top_bigram"]
                    .fn(spark, sf_dir).collect())
    indexed = sorted(tuple(r) for r in
                     REGISTRY["phrase_search_indexed"]
                     .fn(spark, sf_dir).collect())
    assert indexed == inline
    assert len(inline) > 0  # non-vacuous


def test_phrase_probe_prunes_postings_partitions(spark, sf_dir,
                                                 index_path):
    """The phrase probe must read only the phrase terms' term_bucket
    partitions (PartitionFilters on the postings scan)."""
    from us_flight_delay_data_pipeline_spark.operators.bm25 import (
        phrase_probe)
    phrases = spark.createDataFrame(
        [(0, "data", "pipeline")], "phrase_id INT, w1 STRING, w2 STRING")
    plan = phrase_probe(phrases, index_path) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "term_bucket" in plan.split("PartitionFilters", 1)[1][:400], plan


def test_positions_column_consistency(spark, sf_dir, index_path):
    """Postings invariants: positions sorted, tf == size(positions)."""
    p = spark.read.parquet(os.path.join(index_path, "postings"))
    bad = p.filter(
        (F.col("tf") != F.size("positions"))
        | (F.col("positions") != F.sort_array("positions"))).count()
    assert bad == 0


def test_compaction_probe_equals_multibatch(spark, sf_dir, index_path):
    """Compacting the two-batch index must change nothing a probe can
    observe; the compacted layout has exactly one stats row and one
    df partial set."""
    import shutil
    from us_flight_delay_data_pipeline_spark.operators.bm25 import (
        compact_bm25_index)
    dst = index_path + "_cmp"
    try:
        compact_bm25_index(index_path, dst)
        docs = load_table(spark, sf_dir, "documents")
        q = query_terms(docs.filter(F.col("doc_id") < 5))
        before = sorted(tuple(r) for r in
                        probe_bm25_index(q, index_path, k=10).collect())
        after = sorted(tuple(r) for r in
                       probe_bm25_index(q, dst, k=10,
                                        validate=True).collect())
        assert after == before
        assert spark.read.parquet(
            os.path.join(dst, "stats")).count() == 1
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_failed_postings_write_commits_no_partials(spark, sf_dir, tmp_path,
                                                   monkeypatch):
    """A batch whose postings write fails must not commit its df/stats
    partials: probes would otherwise score against document counts and
    lengths for postings that do not exist. ``h32`` feeds only the
    postings write's term bucket, so breaking it fails that write."""
    from us_flight_delay_data_pipeline_spark.operators import bm25

    path = str(tmp_path / "bm25")
    docs = load_table(spark, sf_dir, "documents")
    write_bm25_batch(docs.filter(F.col("doc_id") % 4 != 0), path, batch_id=0)
    before = _probe_rows(spark, sf_dir, path)
    with monkeypatch.context() as m:
        m.setattr(bm25, "h32",
                  lambda c: F.raise_error(F.lit("postings write failed")))
        with pytest.raises(Exception, match="postings write failed"):
            write_bm25_batch(docs.filter(F.col("doc_id") % 4 == 0), path,
                             batch_id=1)
    for part in ("df", "stats"):
        assert not os.path.exists(os.path.join(path, part, "batch_id=1"))
    assert _probe_rows(spark, sf_dir, path) == before
