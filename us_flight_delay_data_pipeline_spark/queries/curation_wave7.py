"""[EXT] Wave-7 operators: storage-layout audits (zone-map pruning,
Z-order clustering), compliance (GDPR delete propagation),
training-order determinism (epoch shuffle plan), feature engineering
(value-consistent equi-depth binning), attribution (position-weighted
multi-touch), entity resolution (blocked Levenshtein matching), and
an embedding-truncation (Matryoshka) recall audit.

Why these belong in a 100 TB engine:

- **Layout audits** — at 100 TB the dominant cost lever is not the
  plan, it is WHICH FILES the plan reads. Zone maps (per-file
  min/max, the parquet row-group stats Spark's scan already consults)
  and multi-dimensional clustering (Z-order, public Delta/Iceberg
  OPTIMIZE ZORDER semantics; Morton 1966) decide that. The audits
  quantify skip rates for a given layout *before* a rewrite is paid
  for — pure metadata-sized aggregation.
- **GDPR delete propagation** — right-to-be-forgotten is a standing
  batch job: a tombstone list cascades through every fact table via
  key joins. The tombstone side is tiny → broadcast (at extreme
  scale: a Bloom pre-filter on the fact scan, then the exact join);
  facts are never shuffled.
- **Epoch shuffle plan** — training wants a different, DETERMINISTIC
  global permutation per epoch without a central RNG or a petabyte
  sort: rank docs by h32(doc_id ':' epoch) and route to shards by the
  same hash. Resumable anywhere, reproducible everywhere; the
  engine-portable-randomness policy (no rand()) applied to training
  order.
- **Equi-depth binning** — quantile feature bucketization computed
  from the VALUE HISTOGRAM (distinct value -> count, then one
  cumulative pass over the distinct-value relation), not a global
  row sort: at 100 TB values are quantized (cents, ms) so
  |distinct| << |rows|, and ties stay in one bin by construction
  (value-consistent — the property sklearn's KBinsDiscretizer
  'quantile' strategy documents).
- **Multi-touch attribution** — position-based (U-shaped) credit in
  exact integer basis points; the remainder-assignment rule is pinned
  so the split is deterministic, not a float share.
- **Blocked fuzzy matching** — the verify stage of entity resolution:
  blocking bounds candidate pairs (Σ block² like the dedup family),
  Levenshtein (identical DP definition in Spark and DuckDB — parity
  verified) confirms. At 100 TB the block key is the whole game;
  q-gram/phonetic keys slot into the same shape.
- **Matryoshka recall audit** — embedding columns at 100 TB are
  storage-bound; truncating to a dim prefix (Kusupati et al. 2022)
  halves bytes if recall holds. This measures exactly that against
  the brute-force oracle, in the ivf_recall_audit mold.

Every query is exact-integer / raw-value output — no
engine-dependent float op survives in any output column
(the r7 decimal->double policy).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.cache import persist
from ..operators.hashing import h32
from ..sources.registry import load_table
from . import register
from .llm_ext import _h32_sql

# ---------------------------------------------------------------- #
# zone-map pruning audit                                            #
# ---------------------------------------------------------------- #

_ZM_FILE_ROWS = 64          # arrival-order rows per simulated file
_ZM_LO, _ZM_HI = "1997-01-01", "1997-03-31"  # the quarter predicate


@register(
    "zonemap_pruning_audit",
    f"""
    WITH bucketed AS (
      SELECT o_orderdate::DATE AS od,
             o_orderkey // {_ZM_FILE_ROWS} AS natural_b,
             year(o_orderdate::DATE) * 4
               + (month(o_orderdate::DATE) - 1) // 3 AS part_b
      FROM orders
    ),
    stats AS (
      SELECT 'arrival' AS layout, natural_b AS b,
             min(od) AS lo, max(od) AS hi, COUNT(*) AS n
      FROM bucketed GROUP BY natural_b
      UNION ALL
      SELECT 'time_partitioned', part_b, min(od), max(od), COUNT(*)
      FROM bucketed GROUP BY part_b
    )
    SELECT layout,
           COUNT(*) AS n_files,
           CAST(SUM(CASE WHEN hi < DATE '{_ZM_LO}' OR lo > DATE '{_ZM_HI}'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
           CAST(SUM(CASE WHEN hi < DATE '{_ZM_LO}' OR lo > DATE '{_ZM_HI}'
                         THEN n ELSE 0 END) AS BIGINT) AS rows_skipped,
           CAST(SUM(n) AS BIGINT) AS rows_total
    FROM stats GROUP BY layout
    """,
    doc="Zone-map (min/max file-stats) pruning audit: simulate two "
        "physical layouts of orders — arrival order (files of "
        f"{_ZM_FILE_ROWS} consecutive orderkeys) and time-partitioned "
        "(one file per calendar quarter) — compute each file's "
        "orderdate zone map, and count how many files a one-quarter "
        "predicate can skip under each. Arrival order interleaves "
        "dates so zone maps prune ~nothing; time partitioning makes "
        "the predicate read 1-2 files. This is the decision metric "
        "for a 100 TB re-layout: metadata-sized aggregation now vs a "
        "full rewrite later. The audit is itself scan+hash-agg over "
        "two grouping keys of one projection — no shuffle beyond the "
        "file-count-sized aggregates.",
)
def zonemap_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("od"),
        (F.col("o_orderkey") / _ZM_FILE_ROWS).cast("long")
            .alias("natural_b"),
        (F.year(F.col("o_orderdate").cast("date")) * 4
         + ((F.month(F.col("o_orderdate").cast("date")) - 1) / 3)
            .cast("int")).alias("part_b"))
    lo = F.lit(_ZM_LO).cast("date")
    hi = F.lit(_ZM_HI).cast("date")

    def stats(bucket: str, layout: str) -> DataFrame:
        return (o.groupBy(F.col(bucket).alias("b"))
                 .agg(F.min("od").alias("lo"), F.max("od").alias("hi"),
                      F.count("*").alias("n"))
                 .select(F.lit(layout).alias("layout"), "lo", "hi", "n"))

    pruned = (F.col("hi") < lo) | (F.col("lo") > hi)
    return (stats("natural_b", "arrival")
            .unionByName(stats("part_b", "time_partitioned"))
            .groupBy("layout")
            .agg(F.count("*").alias("n_files"),
                 F.sum(F.when(pruned, 1).otherwise(0)).alias("n_pruned"),
                 F.sum(F.when(pruned, F.col("n")).otherwise(0))
                  .alias("rows_skipped"),
                 F.sum("n").alias("rows_total")))


# ---------------------------------------------------------------- #
# Z-order clustering audit                                          #
# ---------------------------------------------------------------- #

_Z_BITS = 8


def _z_sql(x: str, y: str) -> str:
    """DuckDB mirror of operators.maintenance.morton_interleave
    (disjoint bits summed instead of OR'd — same value)."""
    terms = [f"((({x}) >> {i}) & 1) * {1 << (2 * i)} "
             f"+ ((({y}) >> {i}) & 1) * {1 << (2 * i + 1)}"
             for i in range(_Z_BITS)]
    return "(" + " + ".join(terms) + ")"


@register(
    "zorder_layout_audit",
    f"""
    WITH pts AS (
      SELECT o_custkey % 256 AS zx,
             CAST(floor(o_totalprice / 2000) AS BIGINT) % 256 AS zy
      FROM orders
    ),
    keyed AS (
      SELECT zx, zy, {_z_sql('zx', 'zy')} AS z FROM pts
    ),
    stats AS (
      SELECT 'linear' AS layout, zx AS b,
             max(zx) - min(zx) AS span_x,
             max(zy) - min(zy) AS span_y
      FROM keyed GROUP BY zx
      UNION ALL
      SELECT 'zorder', z // 256,
             max(zx) - min(zx), max(zy) - min(zy)
      FROM keyed GROUP BY z // 256
    )
    SELECT layout, COUNT(*) AS n_files,
           CAST(SUM(span_x) AS BIGINT) AS span_x_total,
           CAST(SUM(span_y) AS BIGINT) AS span_y_total
    FROM stats GROUP BY layout
    """,
    doc="Z-order (Morton curve) clustering audit: orders projected to "
        "an 8-bit x 8-bit key space (customer x price band), laid out "
        "either linearly (files keyed by the leading dimension — the "
        "ORDER BY custkey layout) or by Morton-code prefix (files = "
        "z >> 8, i.e. 16x16 tiles). Per-file min/max EXTENT of each "
        "dimension is what zone maps can prune with: linear layout "
        "gives span_x ~0 but span_y ~full-range (second-dimension "
        "predicates skip nothing); Z-order bounds BOTH spans at 15 — "
        "the multi-dimensional-clustering guarantee behind Delta/"
        "Iceberg OPTIMIZE ZORDER, public Morton-1966 bit interleave, "
        "here as a pure integer expression (no UDF) on both engines. "
        "Exact integers end-to-end.",
)
def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        (F.col("o_custkey") % 256).alias("zx"),
        (F.floor(F.col("o_totalprice") / 2000).cast("long") % 256)
            .alias("zy"))
    from ..operators.maintenance import morton_interleave
    keyed = pts.withColumn(
        "z", morton_interleave(F.col("zx"), F.col("zy"), _Z_BITS))

    def stats(bucket: Column, layout: str) -> DataFrame:
        return (keyed.groupBy(bucket.alias("b"))
                     .agg((F.max("zx") - F.min("zx")).alias("span_x"),
                          (F.max("zy") - F.min("zy")).alias("span_y"))
                     .select(F.lit(layout).alias("layout"),
                             "span_x", "span_y"))

    return (stats(F.col("zx"), "linear")
            .unionByName(stats((F.col("z") / 256).cast("long"), "zorder"))
            .groupBy("layout")
            .agg(F.count("*").alias("n_files"),
                 F.sum("span_x").alias("span_x_total"),
                 F.sum("span_y").alias("span_y_total")))


# ---------------------------------------------------------------- #
# GDPR delete propagation                                           #
# ---------------------------------------------------------------- #

_GDPR_MOD = 97  # tombstones: every 97th customer requests erasure


@register(
    "gdpr_delete_propagation",
    f"""
    WITH tombstones AS (
      SELECT c_custkey FROM customer WHERE c_custkey % {_GDPR_MOD} = 0
    ),
    del_orders AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM tombstones)
    )
    SELECT
      (SELECT COUNT(*) FROM tombstones) AS n_customers_deleted,
      (SELECT COUNT(*) FROM customer) -
        (SELECT COUNT(*) FROM tombstones) AS n_customers_retained,
      (SELECT COUNT(*) FROM del_orders) AS n_orders_cascaded,
      (SELECT COUNT(*) FROM lineitem
       WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders))
        AS n_lineitems_cascaded,
      (SELECT COUNT(*) FROM events
       WHERE user_id IN (SELECT c_custkey FROM tombstones))
        AS n_events_cascaded
    """,
    doc="GDPR right-to-be-forgotten cascade: a tombstone list (every "
        f"{_GDPR_MOD}th customer) propagates through orders -> "
        "lineitem and events via key semi-joins, and the audit "
        "reports exactly how many rows each table must drop — the "
        "dry-run every compliance pipeline executes before the "
        "rewrite. Plan shape at 100 TB: the tombstone side is tiny "
        "and BROADCASTS into every fact scan (left-semi, no fact "
        "shuffle); the order-key cascade reuses the already-filtered "
        "orders output, again broadcast-sized. At extreme tombstone "
        "cardinality the same shape runs behind a Bloom pre-filter on "
        "the scan with the exact join confirming — either way no "
        "fact table is ever shuffled or scanned twice.",
)
def gdpr_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    tomb = c.filter(F.col("c_custkey") % _GDPR_MOD == 0)
    return _gdpr_cascade_audit(spark, sf_dir, tomb)


def _gdpr_cascade_audit(spark: SparkSession, sf_dir: str,
                        tomb: DataFrame) -> DataFrame:
    """The cascade audit over an externally supplied tombstone set
    (``tomb``: one ``c_custkey`` column) — shared by the batch query
    above and its streaming twin (streaming_gated.py::
    stream_gdpr_tombstones_gated), so the two can never diverge."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    del_orders = o.join(F.broadcast(tomb),
                        o.o_custkey == tomb.c_custkey, "left_semi") \
                  .select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    ev = load_table(spark, sf_dir, "events").select("user_id")
    n_tomb = tomb.agg(F.count("*").alias("n_customers_deleted"))
    n_cust = c.agg(F.count("*").alias("_nc"))
    n_ord = del_orders.agg(F.count("*").alias("n_orders_cascaded"))
    n_li = (li.join(F.broadcast(del_orders),
                    li.l_orderkey == del_orders.o_orderkey, "left_semi")
              .agg(F.count("*").alias("n_lineitems_cascaded")))
    n_ev = (ev.join(F.broadcast(tomb), ev.user_id == tomb.c_custkey,
                    "left_semi")
              .agg(F.count("*").alias("n_events_cascaded")))
    return (n_tomb.crossJoin(n_cust).crossJoin(n_ord)
                  .crossJoin(n_li).crossJoin(n_ev)
                  .select("n_customers_deleted",
                          (F.col("_nc") - F.col("n_customers_deleted"))
                          .alias("n_customers_retained"),
                          "n_orders_cascaded", "n_lineitems_cascaded",
                          "n_events_cascaded"))


# ---------------------------------------------------------------- #
# deterministic epoch shuffle                                       #
# ---------------------------------------------------------------- #

_N_SHARDS = 8
_N_EPOCHS = 2


@register(
    "epoch_shuffle_plan",
    f"""
    WITH assigned AS (
      SELECT d.doc_id, e.epoch,
             {_h32_sql("d.doc_id::VARCHAR || ':' || e.epoch::VARCHAR")}
               % {_N_SHARDS} AS shard,
             {_h32_sql("d.doc_id::VARCHAR || ':0'")}
               % {_N_SHARDS} AS shard_e0
      FROM documents d,
           LATERAL (SELECT unnest(range(0, {_N_EPOCHS})) AS epoch) e
    )
    SELECT epoch, shard,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN shard <> shard_e0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved
    FROM assigned GROUP BY epoch, shard
    """,
    doc="Deterministic per-epoch training shuffle: shard(doc, epoch) "
        "= h32(doc_id ':' epoch) % 8 — a different pseudo-random "
        "permutation every epoch with NO central RNG, no state, and "
        "no petabyte sort; any worker can recompute any assignment "
        "from the pair alone, so training order is reproducible and "
        "resumable mid-epoch (the engine's portable-randomness policy "
        "applied to data ordering — public Spark-ML hash-split "
        "practice). n_moved counts docs whose shard differs from "
        "their epoch-0 shard — epoch 1 relocates ~(S-1)/S of the "
        "corpus, confirming the epochs are genuinely different "
        "permutations, while epoch 0 reports 0 by construction. At "
        "100 TB this is one map-side expression + an 8x2-row "
        "aggregate; writing the shards is a partitionBy on the same "
        "expression.",
)
def epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = d.select(
        "doc_id",
        F.explode(F.array(*[F.lit(e) for e in range(_N_EPOCHS)]))
         .alias("epoch"))
    key = F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                   F.col("epoch").cast("string"))
    key0 = F.concat(F.col("doc_id").cast("string"), F.lit(":0"))
    assigned = epochs.select(
        "epoch",
        (h32(key) % _N_SHARDS).alias("shard"),
        (h32(key0) % _N_SHARDS).alias("shard_e0"))
    return (assigned.groupBy("epoch", "shard")
                    .agg(F.count("*").alias("n_docs"),
                         F.sum(F.when(F.col("shard") != F.col("shard_e0"),
                                      1).otherwise(0)).alias("n_moved")))


# ---------------------------------------------------------------- #
# value-consistent equi-depth binning                               #
# ---------------------------------------------------------------- #

_N_BINS = 16


@register(
    "equi_depth_binning",
    f"""
    WITH vals AS (
      SELECT CAST(floor(o_totalprice) AS BIGINT) AS v, COUNT(*) AS cnt
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT v, cnt,
             COALESCE(SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before,
             SUM(cnt) OVER () AS total
      FROM vals
    )
    SELECT CAST(cum_before * {_N_BINS} // total AS BIGINT) AS bin,
           CAST(SUM(cnt) AS BIGINT) AS n_orders,
           min(v) AS lo_value, max(v) AS hi_value
    FROM cum GROUP BY 1
    """,
    doc="Value-consistent equi-depth binning (quantile feature "
        "bucketization): order prices quantized to whole units, "
        "binned into 16 ~equal-count buckets from the VALUE HISTOGRAM "
        "— distinct value -> count, one cumulative pass ordered by "
        "value, bin = floor(cum_before * K / total). No global row "
        "sort: the only window runs over the DISTINCT-VALUE relation, "
        "which at 100 TB is orders of magnitude smaller than the fact "
        "table (values are quantized — cents, ms, token counts); the "
        "fact table itself is touched once by a hash aggregate. All "
        "rows sharing a value land in the SAME bin by construction "
        "(the tie-safety property sklearn's KBinsDiscretizer "
        "quantile strategy documents) — bin membership can never "
        "depend on row order. Exact integer arithmetic throughout; "
        "bins are ragged exactly where value ties make them so, and "
        "deterministically so.",
)
def equi_depth_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cumulative counts over the distinct-value relation go through
    # the distributed two-pass prefix shape (operators/prefix.py) —
    # the registry-wide plan audit bans unpartitioned windows even on
    # value-histogram-sized inputs (byte-level vocabularies at 100 TB
    # are themselves corpus-scale; same discipline as vocab_coverage).
    from ..operators.prefix import with_global_running
    o = load_table(spark, sf_dir, "orders")
    vals = (o.select(F.floor("o_totalprice").cast("long").alias("v"))
             .groupBy("v").agg(F.count("*").alias("cnt")))
    cum = with_global_running(vals, [F.asc("v")], sum_col="cnt",
                              cum_name="cum", totals=True)
    return (cum.select(
                # exact integer floor-div (long `div` long), matching
                # the oracle's `//`: Spark's `/` on longs is DOUBLE
                # division, so bin MEMBERSHIP would hinge on a float
                # op once (cum-cnt)*K exceeds 2^53 (ADVICE r7)
                F.expr(f"((cum - cnt) * {_N_BINS}) div _sum_total")
                 .alias("bin"), "cnt", "v")
               .groupBy("bin")
               .agg(F.sum("cnt").alias("n_orders"),
                    F.min("v").alias("lo_value"),
                    F.max("v").alias("hi_value")))


# ---------------------------------------------------------------- #
# position-weighted multi-touch attribution                         #
# ---------------------------------------------------------------- #


@register(
    "multi_touch_attribution",
    """
    WITH last_purchase AS (
      SELECT user_id, max(ts) AS conv_ts
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    touches AS (
      SELECT e.user_id, e.event_type,
             row_number() OVER (PARTITION BY e.user_id
                                ORDER BY e.ts, e.event_id) AS pos,
             COUNT(*) OVER (PARTITION BY e.user_id) AS n
      FROM events e
      JOIN last_purchase p ON e.user_id = p.user_id
      WHERE e.event_type <> 'purchase' AND e.ts <= p.conv_ts
    ),
    credited AS (
      SELECT event_type,
             CASE
               WHEN n = 1 THEN 10000
               WHEN n = 2 THEN 5000
               WHEN pos = 1 OR pos = n THEN 4000
               WHEN pos = 2 THEN (2000 // (n - 2))
                                 + (2000 % (n - 2))
               ELSE 2000 // (n - 2)
             END AS bp
      FROM touches
    )
    SELECT event_type, COUNT(*) AS n_touches,
           CAST(SUM(bp) AS BIGINT) AS total_credit_bp
    FROM credited GROUP BY event_type
    """,
    doc="Position-based (U-shaped) multi-touch attribution in exact "
        "integer basis points: per converting user, the touch journey "
        "is every non-purchase event up to the LAST purchase, ordered "
        "by (ts, event_id); credit 40/20/40 — first and last touch "
        "4000 bp each, the middle 2000 bp split floor(2000/(n-2)) per "
        "middle touch with the REMAINDER pinned to the second touch "
        "(single-touch journeys take all 10000, two-touch 5000/5000). "
        "The remainder rule makes the split a deterministic integer "
        "partition of exactly 10000 — never a float share that "
        "engines could round apart. One shuffle on user_id (window + "
        "join co-partition); the per-type rollup is "
        "channel-cardinality-sized. The standard marketing-science "
        "model (public U-shaped attribution) as exact algebra.",
)
def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    conv = (ev.filter(F.col("event_type") == "purchase")
              .groupBy("user_id").agg(F.max("ts").alias("conv_ts")))
    t = (ev.filter(F.col("event_type") != "purchase")
           .join(conv, "user_id")
           .filter(F.col("ts") <= F.col("conv_ts")))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    touches = t.select(
        "event_type",
        F.row_number().over(w).alias("pos"),
        F.count("*").over(wn).alias("n"))
    n, pos = F.col("n"), F.col("pos")
    bp = (F.when(n == 1, 10000)
           .when(n == 2, 5000)
           .when((pos == 1) | (pos == n), 4000)
           .when(pos == 2, F.floor(2000 / (n - 2))
                 + (2000 % (n - 2)))
           .otherwise(F.floor(2000 / (n - 2))))
    return (touches.select("event_type", bp.cast("long").alias("bp"))
                   .groupBy("event_type")
                   .agg(F.count("*").alias("n_touches"),
                        F.sum("bp").alias("total_credit_bp")))


# ---------------------------------------------------------------- #
# blocked fuzzy entity matching                                     #
# ---------------------------------------------------------------- #

_FUZZY_MAX_DIST = 2


@register(
    "fuzzy_name_blocking",
    f"""
    WITH named AS (
      SELECT s_name, right(s_name, 1) AS blk, COUNT(*) AS m
      FROM supplier GROUP BY 1, 2
    ),
    fuzzy AS (
      SELECT levenshtein(a.s_name, b.s_name) AS distance,
             CAST(SUM(a.m * b.m) AS BIGINT) AS n_pairs
      FROM named a JOIN named b
        ON a.blk = b.blk AND a.s_name < b.s_name
      WHERE levenshtein(a.s_name, b.s_name) <= {_FUZZY_MAX_DIST}
      GROUP BY 1
    ),
    exact AS (
      SELECT 0 AS distance,
             CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS n_pairs
      FROM named WHERE m > 1 HAVING COUNT(*) > 0
    )
    SELECT distance, n_pairs FROM fuzzy
    UNION ALL SELECT distance, n_pairs FROM exact
    """,
    doc="Entity-resolution verify stage: supplier-record pairs within "
        f"Levenshtein distance {_FUZZY_MAX_DIST}, candidates bounded "
        "by a blocking key (last name character). Scale-correct ER "
        "order of operations: EXACT duplicates collapse FIRST into "
        "(name, multiplicity) groups — distance-0 pairs are the "
        "closed form Σ C(m,2) and the edit-distance DP runs only on "
        "DISTINCT-name pairs per block, weighted by m_a*m_b. On "
        "replicated corpora this is the difference between "
        "|distinct|² and |rows|² DP calls (measured: the naive "
        "row-pair formulation went super-linear on the 100x replica "
        "set, the collapsed one is flat — BENCH_scale100_wave7). "
        "Levenshtein is the textbook DP definition in both Spark and "
        "DuckDB (parity verified); pair counts are exact integers. "
        "At 100 TB the block key is the scalability lever — q-gram / "
        "phonetic keys slot into the identical plan shape (sorted-"
        "neighborhood and PPJoin are this family's registry "
        "siblings).",
)
def fuzzy_name_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    named = (load_table(spark, sf_dir, "supplier")
             .groupBy(F.col("s_name"),
                      F.substring(F.col("s_name"), -1, 1).alias("blk"))
             .agg(F.count("*").alias("m")))
    a = named.select(F.col("s_name").alias("n1"), "blk",
                     F.col("m").alias("m1"))
    b = named.select(F.col("s_name").alias("n2"),
                     F.col("blk").alias("blk2"), F.col("m").alias("m2"))
    fuzzy = (a.join(b, (a.blk == b.blk2) & (F.col("n1") < F.col("n2")))
              .select(F.levenshtein("n1", "n2").alias("distance"),
                      (F.col("m1") * F.col("m2")).alias("w"))
              .filter(F.col("distance") <= _FUZZY_MAX_DIST)
              .groupBy("distance")
              .agg(F.sum("w").alias("n_pairs")))
    exact = (named.filter(F.col("m") > 1)
                  .agg(F.lit(0).alias("distance"),
                       # all-integer C(m,2): m*(m-1) is even, so long
                       # `div` is exact at any m — the double-division
                       # form capped exactness at 2^53 (ADVICE r7)
                       F.sum(F.expr("(m * (m - 1)) div 2"))
                        .alias("n_pairs"),
                       F.count("*").alias("_g"))
                  .filter(F.col("_g") > 0).drop("_g"))
    return fuzzy.unionByName(exact)


# ---------------------------------------------------------------- #
# Matryoshka (dim-truncation) recall audit                          #
# ---------------------------------------------------------------- #

_MRL_DIM = 32   # keep the first 32 of 64 dims
_MRL_K = 10
_MRL_NQ = 5


def _mrl_topk_sql(vec: str, alias: str) -> str:
    from .llm_ext import _cosine_sql
    return f"""
    {alias}_sims AS (
      SELECT q.vec_id AS q_id, e.vec_id AS doc_id,
             {_cosine_sql(f'q.{vec}', f'e.{vec}')} AS cosine
      FROM qv q JOIN ev e ON e.vec_id <> q.vec_id
    ),
    {alias} AS (
      SELECT q_id, doc_id FROM (
        SELECT q_id, doc_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cosine DESC, doc_id) AS r
        FROM {alias}_sims) WHERE r <= {_MRL_K}
    )"""


@register(
    "matryoshka_recall_audit",
    f"""
    WITH qv AS (
      SELECT vec_id, embedding AS fullv,
             embedding[1:{_MRL_DIM}] AS truncv
      FROM embeddings WHERE vec_id < {_MRL_NQ}
    ),
    ev AS (
      SELECT vec_id, embedding AS fullv,
             embedding[1:{_MRL_DIM}] AS truncv
      FROM embeddings
    ),
    {_mrl_topk_sql('fullv', 'full_topk')},
    {_mrl_topk_sql('truncv', 'trunc_topk')}
    SELECT CAST({_MRL_NQ} AS BIGINT) AS n_queries,
           CAST({_MRL_K} AS BIGINT) AS k,
           (SELECT COUNT(*) FROM full_topk f
            JOIN trunc_topk t USING (q_id, doc_id)) AS n_hits,
           (SELECT COUNT(*) FROM full_topk) AS n_possible
    """,
    doc="Matryoshka-truncation recall audit (Kusupati et al. 2022): "
        f"brute-force cosine top-{_MRL_K} using only the first "
        f"{_MRL_DIM} of 64 embedding dims, scored against the "
        "full-dim top-k as ground truth. Storage at 100 TB is "
        "embedding-dominated; if recall holds at half the dims, the "
        "corpus halves on disk and every downstream ANN probe halves "
        "its I/O — this audit is the measurement that justifies (or "
        "vetoes) the truncation, in the ivf_recall_audit mold. "
        "Truncation is a zero-copy array slice; cosine handles the "
        "renormalization. Output is exact hit counts; ranks carry "
        "the doc_id tiebreak.",
)
def matryoshka_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import cosine_similarity
    e = load_table(spark, sf_dir, "embeddings")
    both = e.select("vec_id", F.col("embedding").alias("fullv"),
                    F.slice("embedding", 1, _MRL_DIM).alias("truncv"))
    q = both.filter(F.col("vec_id") < _MRL_NQ).select(
        F.col("vec_id").alias("q_id"), F.col("fullv").alias("qf"),
        F.col("truncv").alias("qt"))

    def topk(vec_q: str, vec_e: str) -> DataFrame:
        sims = (both.crossJoin(F.broadcast(q))
                    .filter(F.col("vec_id") != F.col("q_id"))
                    .select("q_id", F.col("vec_id").alias("doc_id"),
                            cosine_similarity(F.col(vec_q), F.col(vec_e))
                            .alias("cosine")))
        w = Window.partitionBy("q_id").orderBy(F.desc("cosine"),
                                               F.asc("doc_id"))
        return (sims.withColumn("r", F.row_number().over(w))
                    .filter(F.col("r") <= _MRL_K)
                    .select("q_id", "doc_id"))

    full = topk("qf", "fullv")
    trunc = topk("qt", "truncv")
    hits = (full.join(trunc, ["q_id", "doc_id"])
                .agg(F.count("*").alias("n_hits")))
    poss = full.agg(F.count("*").alias("n_possible"))
    return (hits.crossJoin(poss)
                .select(F.lit(_MRL_NQ).cast("long").alias("n_queries"),
                        F.lit(_MRL_K).cast("long").alias("k"),
                        "n_hits", "n_possible"))


# ---------------------------------------------------------------- #
# CUSUM change-point detection                                      #
# ---------------------------------------------------------------- #


@register(
    "cusum_changepoints",
    """
    WITH daily AS (
      SELECT o_orderdate::DATE AS day,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                       AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT SUM(x) AS tot, COUNT(*) AS n FROM daily),
    d AS (
      SELECT day, x - (tot // n) AS d, (tot // n) AS k
      FROM daily, tot
    ),
    p AS (SELECT day, k, SUM(d) OVER (ORDER BY day) AS pt FROM d),
    s AS (
      SELECT day, k,
             pt - LEAST(0, MIN(pt) OVER (ORDER BY day)) AS st
      FROM p
    )
    SELECT day, CAST(st AS BIGINT) AS s_micros FROM s WHERE st > k
    """,
    doc="CUSUM change-point detection (Page 1954) over the daily "
        "revenue series, in exact integer micro-units: the classic "
        "recurrence S_t = max(0, S_{t-1} + x_t - k) is NOT a prefix "
        "sum — but it equals P_t - min(0, min_{i<=t} P_i) where P is "
        "the prefix sum of the k-centered series, so the whole "
        "detector is two distributed prefix passes "
        "(operators/prefix.py: running sum, then running MIN — the "
        "min fold added for exactly this recurrence class, which "
        "also covers drawdown/high-water-mark analytics). Allowance "
        "k = the exact integer mean daily revenue (floor division — "
        "identical on both engines); alarm threshold = k (one "
        "average day). No unpartitioned window anywhere despite the "
        "inherently sequential recurrence; at 100 TB the daily "
        "rollup is date-cardinality-sized and the prefix passes "
        "touch only that. Exact integers end-to-end.",
)
def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import with_global_running
    from .relational import DEC, micros
    o = load_table(spark, sf_dir, "orders")
    daily = (o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
              .agg(micros(F.sum(F.col("o_totalprice").cast(DEC))
                          .cast(DEC)).alias("x")))
    tot = daily.agg(F.sum("x").alias("tot"), F.count("*").alias("n"))
    d = (daily.crossJoin(F.broadcast(tot))
              .select("day", F.expr("tot div n").alias("k"),
                      (F.col("x") - F.expr("tot div n")).alias("d")))
    p = with_global_running(d, [F.asc("day")], sum_col="d",
                            cum_name="pt")
    s = with_global_running(p.select("day", "k", "pt"),
                            [F.asc("day")], min_col="pt",
                            min_name="runmin")
    st = (F.col("pt")
          - F.least(F.lit(0).cast("bigint"), F.col("runmin")))
    return (s.select("day", st.alias("s_micros"), "k")
             .filter(F.col("s_micros") > F.col("k"))
             .select("day", "s_micros"))


# ---------------------------------------------------------------- #
# blocking-strategy quality audit (pairs completeness / reduction)  #
# ---------------------------------------------------------------- #

_BQ_PPM = 1_000_000


@register(
    "blocking_quality_audit",
    f"""
    WITH named AS (
      SELECT s_name, COUNT(*) AS m FROM supplier GROUP BY 1
    ),
    strat AS (
      SELECT 'first_char' AS strategy, left(s_name, 1) AS k, s_name, m
      FROM named
      UNION ALL
      SELECT 'last_char', right(s_name, 1), s_name, m FROM named
      UNION ALL
      SELECT 'name_length', CAST(length(s_name) AS VARCHAR), s_name, m
      FROM named
    ),
    cand AS (
      SELECT a.strategy,
             CAST(SUM(a.m * b.m) AS BIGINT) AS cross_cand,
             CAST(SUM(CASE WHEN levenshtein(a.s_name, b.s_name)
                             <= {_FUZZY_MAX_DIST}
                           THEN a.m * b.m ELSE 0 END) AS BIGINT)
               AS cross_found
      FROM strat a JOIN strat b
        ON a.strategy = b.strategy AND a.k = b.k
       AND a.s_name < b.s_name
      GROUP BY a.strategy
    ),
    within AS (
      SELECT CAST(COALESCE(SUM(m * (m - 1) // 2), 0) AS BIGINT) AS w
      FROM named WHERE m > 1
    ),
    tot AS (
      SELECT CAST(SUM(CASE WHEN levenshtein(a.s_name, b.s_name)
                             <= {_FUZZY_MAX_DIST}
                           THEN a.m * b.m ELSE 0 END) AS BIGINT)
               AS cross_true
      FROM named a JOIN named b ON a.s_name < b.s_name
    ),
    size_t AS (
      SELECT CAST(SUM(m) AS BIGINT) AS s FROM named
    )
    , slist AS (SELECT DISTINCT strategy FROM strat)
    SELECT sl.strategy,
           COALESCE(c.cross_cand, 0) + w.w AS n_candidate_pairs,
           COALESCE(c.cross_found, 0) + w.w AS n_true_found,
           t.cross_true + w.w AS n_true_total,
           ((COALESCE(c.cross_found, 0) + w.w) * {_BQ_PPM})
             // (t.cross_true + w.w) AS recall_ppm,
           (z.s * (z.s - 1)) // 2 AS n_possible_pairs
    FROM slist sl
    LEFT JOIN cand c ON c.strategy = sl.strategy
    CROSS JOIN within w CROSS JOIN tot t CROSS JOIN size_t z
    """,
    doc="ER blocking-strategy audit — pairs completeness vs reduction "
        "(the two standard blocking metrics): for each candidate "
        "blocking key (first char, last char, name length) over the "
        "supplier names, count the candidate pairs it generates and "
        "how many TRUE matches (Levenshtein <= "
        f"{_FUZZY_MAX_DIST}) it retains, against the exhaustive "
        "truth. recall_ppm is exact integer parts-per-million "
        "(floor); identical-name pairs (distance 0) co-block under "
        "every name-derived key and are counted symmetrically. The "
        "audit that picks fuzzy_name_blocking's blocking key. Scale: "
        "names collapse to (distinct value, multiplicity) FIRST "
        "(the r7 fuzzy-blocking lesson — replicated corpora keep "
        "|distinct| flat while rows grow), so the quadratic truth "
        "side is |distinct names|² DP calls — an AUDIT run once per "
        "corpus/key change, not a serving query; the per-strategy "
        "candidate joins are the same plan shape fuzzy_name_blocking "
        "serves with.",
)
def blocking_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    named = persist(load_table(spark, sf_dir, "supplier")
                    .groupBy("s_name").agg(F.count("*").alias("m")))
    strat = (named.select(F.lit("first_char").alias("strategy"),
                          F.substring("s_name", 1, 1).alias("k"),
                          "s_name", "m")
             .unionByName(named.select(
                 F.lit("last_char").alias("strategy"),
                 F.substring("s_name", -1, 1).alias("k"), "s_name", "m"))
             .unionByName(named.select(
                 F.lit("name_length").alias("strategy"),
                 F.length("s_name").cast("string").alias("k"),
                 "s_name", "m")))
    a = strat.select("strategy", "k", F.col("s_name").alias("n1"),
                     F.col("m").alias("m1"))
    b = strat.select(F.col("strategy").alias("strategy2"),
                     F.col("k").alias("k2"),
                     F.col("s_name").alias("n2"), F.col("m").alias("m2"))
    lev_ok = F.levenshtein("n1", "n2") <= _FUZZY_MAX_DIST
    w_pair = F.col("m1") * F.col("m2")
    cand = (a.join(b, (F.col("strategy") == F.col("strategy2"))
                   & (F.col("k") == F.col("k2"))
                   & (F.col("n1") < F.col("n2")))
             .groupBy("strategy")
             .agg(F.sum(w_pair).alias("cross_cand"),
                  F.sum(F.when(lev_ok, w_pair).otherwise(F.lit(0)))
                   .alias("cross_found")))
    within = (named.filter(F.col("m") > 1)
                   .agg(F.coalesce(F.sum(F.expr("(m * (m - 1)) div 2")),
                                   F.lit(0)).alias("w")))
    ta = named.select(F.col("s_name").alias("n1"), F.col("m").alias("m1"))
    tb = named.select(F.col("s_name").alias("n2"), F.col("m").alias("m2"))
    tot = (ta.join(tb, F.col("n1") < F.col("n2"))
             .agg(F.sum(F.when(lev_ok, w_pair).otherwise(F.lit(0)))
                  .alias("cross_true")))
    size_t = named.agg(F.sum("m").alias("s"))
    # a strategy whose blocks are all singletons generates zero cross
    # candidates — it must still report a row (with the within-name
    # floor), so the output is keyed by the strategy LIST
    slist = strat.select("strategy").distinct()
    return (slist.join(cand, "strategy", "left")
                .crossJoin(F.broadcast(within))
                .crossJoin(F.broadcast(tot))
                .crossJoin(F.broadcast(size_t))
                .select("strategy",
                        (F.coalesce("cross_cand", F.lit(0)) + F.col("w"))
                         .alias("n_candidate_pairs"),
                        (F.coalesce("cross_found", F.lit(0)) + F.col("w"))
                         .alias("n_true_found"),
                        (F.col("cross_true") + F.col("w"))
                         .alias("n_true_total"),
                        F.expr(f"((coalesce(cross_found, 0) + w) "
                               f"* {_BQ_PPM}) div (cross_true + w)")
                         .alias("recall_ppm"),
                        F.expr("(s * (s - 1)) div 2")
                         .alias("n_possible_pairs")))
