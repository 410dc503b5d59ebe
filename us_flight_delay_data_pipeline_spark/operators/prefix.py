"""Distributed global-order primitives (two-pass prefix computation).

Spark's ``Window.orderBy(...)`` with no ``partitionBy`` moves ALL rows
to a single partition ("No Partition Defined for Window") — one task
processing the whole table spine. Any global running sum / global
row_number in this repo goes through :func:`with_global_running`
instead, which computes the same result as the classic parallel
prefix-sum:

1. ``repartitionByRange`` on the total order → every partition holds a
   contiguous key range, partition ids ascend with the order.
2. A *partitioned* window per partition id computes the local running
   value — fully parallel.
3. Per-partition totals (one row per partition, P = shuffle
   partitions) are folded into exclusive prefix offsets INSIDE one row
   via array higher-order functions — no driver ``collect()``, no
   unpartitioned window (``tests/test_plan_audit.py::
   test_no_unpartitioned_window_in_any_query`` audits the whole
   registry).
4. Offsets broadcast-join back on partition id.

At 10B rows each task touches only its own range; the only global
structure is the P-entry offsets array. The total order must be unique
(pass a tiebreak column) for deterministic results.

No reference counterpart (the reference has no window functions at
all, SURVEY.md §2.5) — this is 100 TB posture for the [EXT] operators
(sequence packing, exact quantile segmentation, Zipf coverage).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .cache import persist

__all__ = ["with_global_running"]


def with_global_running(
    df: DataFrame,
    order_by: list[Column],
    *,
    rank: str | None = None,
    sum_col: str | None = None,
    cum_name: str = "_cum",
    totals: bool = False,
    min_col: str | None = None,
    min_name: str = "_runmin",
) -> DataFrame:
    """Attach a global 1-based row_number (``rank``), inclusive
    running sum of ``sum_col`` (``cum_name``), and/or inclusive
    running minimum of ``min_col`` (``min_name``) over a unique total
    order, without a single-partition window.

    The running minimum uses the same two-pass shape as the sum: a
    partitioned local running min plus per-partition minima folded
    into exclusive prefix minima (``least`` fold; a NULL prefix —
    partition 0 — falls through to the local min, which Spark's
    null-skipping ``least`` handles). ``min_col`` must be BIGINT-
    valued and non-null (CUSUM/drawdown recurrences quantize first —
    the same contract as ``sum_col``).

    With ``totals=True`` also attaches the scalar grand totals
    ``_n_total`` (row count) and, if ``sum_col`` is set,
    ``_sum_total`` — broadcast from the same one-row offsets subtree,
    so the input is still scanned once.
    """
    # persist: the ranged frame is consumed by TWO subtrees (the local
    # window and the per-partition totals), and callers that reference
    # the result more than once multiply that further. Each independent
    # computation of a repartitionByRange builds a fresh RangePartitioner
    # whose reservoir sampling is rdd.id-seeded, so two computations can
    # draw DIFFERENT range boundaries once the input has >1 partition —
    # local row_numbers then count against one partitioning while the
    # broadcast offsets count against another, leaving gaps/duplicates
    # in the "global" ranks (caught by sorted_neighborhood_pairs on a
    # rebalanced 32-partition input; single-partition inputs sample the
    # whole partition and are immune, which is why single-row-group
    # testdata scans never exposed it). persist() registers ONE cached
    # plan, so every execution reuses the same materialized RDD — one
    # partitioner, one partitioning, for the offsets pass and every
    # downstream reference alike. Rows carried are the caller's
    # projection, which callers keep narrow.
    ranged = persist(df.repartitionByRange(*order_by)
                       .withColumn("_pid", F.spark_partition_id()))
    wloc = Window.partitionBy("_pid").orderBy(*order_by)
    out = ranged
    if rank is not None:
        out = out.withColumn("_lrn",
                             F.row_number().over(wloc).cast("bigint"))
    if sum_col is not None:
        out = out.withColumn(
            "_lcum",
            F.sum(sum_col).over(
                wloc.rowsBetween(Window.unboundedPreceding,
                                 Window.currentRow)))
    if min_col is not None:
        out = out.withColumn(
            "_lmin",
            F.min(min_col).over(
                wloc.rowsBetween(Window.unboundedPreceding,
                                 Window.currentRow)))

    aggs = [F.count("*").alias("_pcnt")]
    if sum_col is not None:
        aggs.append(F.sum(sum_col).alias("_psum"))
    if min_col is not None:
        aggs.append(F.min(min_col).alias("_pmin"))
    parts = ranged.groupBy("_pid").agg(*aggs)

    # fold P per-partition totals into exclusive prefix offsets inside
    # ONE row (P = shuffle partitions — bounded, not data-scale)
    fields = (["_pid", "_pcnt"]
              + (["_psum"] if sum_col is not None else [])
              + (["_pmin"] if min_col is not None else []))
    ps = F.array_sort(F.collect_list(F.struct(*fields)))

    def _prefix(field: str):
        return lambda s, i: F.aggregate(
            F.slice(ps, F.lit(1), i), F.lit(0).cast("bigint"),
            lambda acc, x: acc + F.coalesce(x[field].cast("bigint"),
                                            F.lit(0)))

    def _prefix_min(s, i):
        # exclusive prefix minimum of earlier partitions' minima;
        # NULL init -> partition 0 gets NULL (falls through to the
        # local min via null-skipping least below)
        return F.aggregate(
            F.slice(ps, F.lit(1), i),
            F.lit(None).cast("bigint"),
            lambda acc, x: F.least(acc, x["_pmin"].cast("bigint")))

    def _entry(s, i):
        cols = [s["_pid"].alias("_pid"),
                _prefix("_pcnt")(s, i).alias("_cnt_off")]
        if sum_col is not None:
            cols.append(_prefix("_psum")(s, i).alias("_sum_off"))
        if min_col is not None:
            cols.append(_prefix_min(s, i).alias("_min_off"))
        return F.struct(*cols)

    one = [F.transform(ps, _entry).alias("_po")]
    if totals:
        one.append(F.aggregate(ps, F.lit(0).cast("bigint"),
                               lambda acc, x: acc + x["_pcnt"])
                   .alias("_n_total"))
        if sum_col is not None:
            # coalesce: a partition whose sum_col is all-NULL yields a
            # NULL _psum and must not NULL the grand total
            one.append(F.aggregate(ps, F.lit(0).cast("bigint"),
                                   lambda acc, x: acc +
                                   F.coalesce(x["_psum"].cast("bigint"),
                                              F.lit(0)))
                       .alias("_sum_total"))
    offs_row = parts.agg(*one)
    keep = [c for c in ("_n_total", "_sum_total") if c in offs_row.columns]
    offsets = (offs_row.select(F.explode("_po").alias("_o"), *keep)
                       .select("_o.*", *keep))

    out = out.join(F.broadcast(offsets), "_pid")
    if rank is not None:
        out = out.withColumn(rank, F.col("_cnt_off") + F.col("_lrn"))
    if sum_col is not None:
        out = out.withColumn(cum_name, F.col("_sum_off") + F.col("_lcum"))
    if min_col is not None:
        # least skips NULL: partition 0's NULL offset yields _lmin
        out = out.withColumn(min_name,
                             F.least(F.col("_min_off"), F.col("_lmin")))
    drop = ["_pid", "_lrn", "_lcum", "_lmin",
            "_cnt_off", "_sum_off", "_min_off"]
    return out.drop(*[c for c in drop if c in out.columns])
