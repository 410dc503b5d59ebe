"""Second relational-coverage wave: distinct aggregation, rank-variant
windows, first/last-value windows, unpivot, order-canonical array
aggregation, correlated EXISTS through the SQL entry point, and exact
moment statistics.

Determinism notes (everything here must value-hash identically in
DuckDB):
- window tiebreaks always extend the ORDER BY to a unique key;
- collected arrays are sorted (collect_set order is engine-defined);
- variance is computed from exact decimal sums with an explicit
  IEEE-defined final expression, never the engines' ``stddev`` (their
  accumulation orders differ).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cache import checkpoint
from ..sources.registry import load_table
from . import register
from .relational import DEC, _osum, dsum


@register(
    "distinct_counts",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT date_trunc('month', o_orderdate::DATE)) AS n_months,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Distinct aggregation (two distinct columns + plain count in "
        "one pass). Catalyst plans distinct-aggs as a double-expand + "
        "two-stage HashAggregate; at 100 TB prefer approx_count_"
        "distinct when ±2% is acceptable — this is the exact baseline.",
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct(
            F.date_trunc("month", F.col("o_orderdate").cast("date"))
        ).alias("n_months"),
        F.count("*").alias("n_orders"),
    )


@register(
    "window_rank_variants",
    """
    SELECT p_brand, p_partkey,
           dense_rank() OVER w AS price_dense_rank,
           percent_rank() OVER w AS price_pct_rank,
           ntile(4) OVER w AS price_quartile
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey)
    QUALIFY dense_rank() OVER w <= 5
    """,
    doc="Ranking-window family beyond row_number: dense_rank, "
        "percent_rank, ntile — one shuffle on the partition key, "
        "in-partition sort, single Window operator evaluates all "
        "three. Unique tiebreak (partkey) keeps ntile assignment "
        "engine-portable.",
)
def window_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_retailprice", "p_partkey")
    return (p.select(
                "p_brand", "p_partkey",
                F.dense_rank().over(w).alias("price_dense_rank"),
                F.percent_rank().over(w).alias("price_pct_rank"),
                F.ntile(4).over(w).alias("price_quartile"))
             .filter(F.col("price_dense_rank") <= 5))


@register(
    "first_last_window",
    """
    SELECT DISTINCT user_id,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type) OVER w AS last_type,
           first_value(ts) OVER w AS first_ts
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    doc="first_value/last_value over an unbounded frame (entry/exit "
        "event per user). The full-frame spec matters: the default "
        "frame ends at CURRENT ROW, which makes last_value a no-op — "
        "a classic window-semantics trap both engines share.",
)
def first_last_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    e = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return (e.select(
                "user_id",
                F.first("event_type").over(w).alias("first_type"),
                F.last("event_type").over(w).alias("last_type"),
                F.first("ts").over(w).alias("first_ts"))
             .distinct())


@register(
    "unpivot_order_measures",
    f"""
    WITH m AS (
      SELECT CAST(year(o_orderdate::DATE) AS INTEGER) AS year,
             {_osum('o_totalprice')} AS total_price,
             CAST(COUNT(*) AS DOUBLE) AS n_orders,
             CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS n_customers
      FROM orders GROUP BY 1
    )
    SELECT year, measure, value FROM m
    UNPIVOT (value FOR measure IN (total_price, n_orders, n_customers))
    """,
    doc="Wide-to-long unpivot (the inverse of pivot_event_counts): "
        "DataFrame.unpivot == SQL UNPIVOT/stack. Pure per-row "
        "expansion — no shuffle beyond the feeding aggregate.",
)
def unpivot_order_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
            F.year(F.col("o_orderdate").cast("date")).alias("year")).agg(
        dsum("o_totalprice").alias("total_price"),
        F.count("*").cast("double").alias("n_orders"),
        F.countDistinct("o_custkey").cast("double").alias("n_customers"))
    return m.unpivot("year", ["total_price", "n_orders", "n_customers"],
                     "measure", "value")


@register(
    "collect_sorted_sets",
    """
    SELECT p_brand,
           array_to_string(list_sort(list_distinct(list(p_type))), '|')
             AS types,
           array_to_string(list_sort(list_distinct(list(p_size))), ',')
             AS sizes
    FROM part GROUP BY p_brand
    """,
    doc="Array aggregation with canonical ordering: collect_set's "
        "order is engine- and partitioning-defined, so results are "
        "array_sort-ed before comparison — the only portable contract "
        "for set-valued aggregates. Serialized to delimited strings "
        "(driver canonicalizer cannot hash list cells).",
)
def collect_sorted_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.core import arr_str
    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        arr_str(F.array_sort(F.collect_set("p_type")), "|").alias("types"),
        arr_str(F.array_sort(F.collect_set("p_size"))).alias("sizes"),
    )


_EXISTS_SQL = """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_totalprice > 10 * c.c_acctbal AND c.c_acctbal > 0)
"""


@register(
    "exists_correlated",
    _EXISTS_SQL,
    doc="Correlated EXISTS with a non-equi correlated predicate, "
        "submitted through spark.sql over registered views — Catalyst "
        "decorrelates it into a left-semi join with the inequality in "
        "the join condition (no per-row subquery execution).",
)
def exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_EXISTS_SQL)


@register(
    "quantity_variance_exact",
    f"""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             {_osum('l_quantity')} AS s1,
             {_osum('l_quantity * l_quantity')} AS s2
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (s2 - s1 * s1 / n) / (n - 1) AS var_samp,
           sqrt((s2 - s1 * s1 / n) / (n - 1)) AS stddev_samp
    FROM s
    """,
    doc="Exact sample variance/stddev from decimal-exact power sums "
        "(engines' native stddev accumulates doubles in "
        "partition-dependent order). The two-pass-free sum/sumsq "
        "formulation is also the map-side-combinable one — what a "
        "100 TB aggregate needs.",
)
def quantity_variance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        dsum("l_quantity").alias("s1"),
        F.sum((F.col("l_quantity") * F.col("l_quantity")).cast(DEC))
         .cast("double").alias("s2"))
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) \
        / (F.col("n") - 1)
    return s.select("l_returnflag", "n", var.alias("var_samp"),
                    F.sqrt(var).alias("stddev_samp"))


@register(
    "shipping_priority",
    f"""
    SELECT l.l_orderkey,
           {_osum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1996-01-01'
      AND l.l_shipdate > TIMESTAMP '1996-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape — selective dimension filter -> fact join -> "
        "revenue aggregate -> top-k. The segment filter reaches the "
        "customer scan, the date filters reach orders/lineitem "
        "(partition-prunable at scale), customer broadcasts, and the "
        "final ORDER BY+LIMIT plans TakeOrderedAndProject.",
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer") \
        .filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders") \
        .filter(F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
    li = load_table(spark, sf_dir, "lineitem") \
        .filter(F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(F.broadcast(c), o.o_custkey == c.c_custkey)
              .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
              .agg(F.sum(rev).cast("double").alias("revenue"))
              .select("l_orderkey", "revenue", "o_orderdate",
                      "o_orderpriority")
              .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
              .limit(10))


@register(
    "approx_distinct_and_quantiles",
    None,
    doc="Sketch aggregates for the 100 TB path: approx_count_distinct "
        "(HyperLogLog++) and approx_percentile per group — one pass, "
        "mergeable partial states, fixed memory per group, no sort. "
        "Rows-only under the driver gate (sketch results are not "
        "bit-portable across engines); tests/test_queries_oracle "
        "bounds them against the exact answers instead. Like "
        "hll_partition_merge, the ESTIMATES are merge-tree-dependent "
        "(HLL++ HIP/bias paths, t-digest centroid boundaries), so the "
        "invariance gate asserts a 5% relative bound, not "
        "bit-equality.",
    invariance_rtol=0.05,
    invariance_rtol_cols=("approx_orders", "approx_median_qty"),
)
def approx_distinct_and_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02)
         .alias("approx_orders"),
        F.approx_percentile("l_quantity", F.lit(0.5), F.lit(1000))
         .alias("approx_median_qty"),
    )


@register(
    "distinct_and_quantiles_exact",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           quantile_cont(l_quantity, 0.5) AS exact_median_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="The CHECKABLE twin of approx_distinct_and_quantiles: the "
        "exact COUNT(DISTINCT) and exact interpolated median the "
        "sketch aggregates approximate, under the driver's full "
        "oracle (sketch outputs themselves are not cross-engine-"
        "portable, so the approx twin stays rows-only with a "
        "declared 5% invariance bound). Splitting exact/approx means "
        "the driver checks the checkable part instead of burning a "
        "sample slot on a no_oracle row. Plan shape: the two "
        "aggregates run as SEPARATE subtrees joined on the 3-row "
        "group key — mixing COUNT(DISTINCT) with a sort-based "
        "percentile in one agg() makes Catalyst Expand every row "
        "through the percentile's sort path (measured 3x slower); "
        "split, the percentile sorts raw rows and the distinct is a "
        "pure two-level hash agg.",
)
def distinct_and_quantiles_exact(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("exact_median_qty"))
    dst = (li.select("l_returnflag", "l_orderkey").distinct()
             .groupBy("l_returnflag")
             .agg(F.count("*").alias("exact_orders")))
    return med.join(dst, "l_returnflag").select(
        "l_returnflag", "exact_orders", "exact_median_qty")


_ASOF_90D = 90 * 24 * 3600


@register(
    "asof_prev_part_shipment",
    f"""
    WITH li AS (
      SELECT DISTINCT l_partkey, l_shipdate FROM lineitem
    )
    SELECT l_partkey, l_shipdate, prev_shipdate
    FROM (
      SELECT a.l_partkey, a.l_shipdate,
             b.l_shipdate AS prev_shipdate,
             row_number() OVER (PARTITION BY a.l_partkey, a.l_shipdate
                                ORDER BY b.l_shipdate DESC) AS rn
      FROM li a JOIN li b
        ON b.l_partkey = a.l_partkey AND b.l_shipdate < a.l_shipdate
       AND b.l_shipdate >= a.l_shipdate - INTERVAL {_ASOF_90D} SECONDS
    ) WHERE rn = 1
    """,
    doc="Self as-of with strict ordering on coarse time buckets "
        "(width = tolerance = 90 days): for each shipment, the latest "
        "STRICTLY earlier shipment of the same part within 90 days. "
        "The left side explodes to 2 bucket keys, making the join "
        "pure equi on (part, bucket) — per-task fan-out bounded by "
        "rows per bucket, not the part's full history. The scale "
        "formulation of asof_latest_order.",
)
def asof_prev_part_shipment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_bucketed
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_partkey", "l_shipdate").distinct()
    out = asof_join_bucketed(
        li, li, on="l_partkey", left_time="l_shipdate",
        right_time="l_shipdate", value_cols=["l_shipdate"],
        tolerance_sec=_ASOF_90D, strict=True)
    return out.select("l_partkey", "l_shipdate",
                      F.col("asof_l_shipdate").alias("prev_shipdate"))


_IVL_W_SEC = 30 * 86400  # band bound: synthesized transit <= 30 days


@register(
    "interval_overlap_pairs",
    """
    WITH iv AS (
      SELECT l_partkey,
             CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS line_id,
             epoch_us(l_shipdate) // 1000000 AS s,
             epoch_us(l_shipdate
                      + INTERVAL ((l_quantity::INT % 28) + 2) DAY)
               // 1000000 AS e
      FROM lineitem
    )
    SELECT a.l_partkey,
           a.line_id AS a_line_id, b.line_id AS b_line_id,
           a.s AS a_start_sec, b.s AS b_start_sec,
           CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT)
             AS overlap_sec
    FROM iv a JOIN iv b
      ON a.l_partkey = b.l_partkey AND a.line_id < b.line_id
     AND a.s <= b.e AND b.s <= a.e
    """,
    doc="Interval overlap join [EXT] (the range-join sibling of the "
        "as-of join): pairs of same-part shipments whose in-transit "
        "windows [shipdate, shipdate + quantity-derived transit days] "
        "overlap. The operator (operators/intervals.py) is the banded "
        "range join: with interval length bounded by L, bucket width "
        "W >= L makes overlap imply starts within one bucket of each "
        "other, so the probe side explodes to its 3 neighboring "
        "buckets, the build side keeps its home bucket, and the join "
        "is pure equi on (part, bucket) — per-task fan-out bounded by "
        "rows-per-(part, 30-day bucket), never |part history|^2, and "
        "each qualifying pair meets in exactly one bucket (no dedup "
        "pass). The oracle is the declarative O(n^2-per-key) "
        "range-predicate join — same rows, different physical plan.",
)
def interval_overlap_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.intervals import interval_overlap_pairs
    li = load_table(spark, sf_dir, "lineitem")
    transit_days = (F.col("l_quantity").cast("int") % 28) + 2
    iv = li.select(
        "l_partkey",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cast("bigint").alias("line_id"),
        F.col("l_shipdate").alias("ivl_start"),
        F.timestamp_add("DAY", transit_days, F.col("l_shipdate"))
         .alias("ivl_end"))
    return interval_overlap_pairs(
        iv, on="l_partkey", start="ivl_start", end="ivl_end",
        id_col="line_id", max_len_sec=_IVL_W_SEC)


_SALT_N = 16


@register(
    "salted_segment_revenue",
    """
    SELECT c.c_mktsegment,
           COUNT(*)::BIGINT AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
             AS total_revenue
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="Deterministic SALTED skew join under the oracle gate (the "
        "salted-AGG twin salted_event_type_stats is already gated; "
        "this gates the JOIN pattern): the fact side salts each row "
        "with h32(orderkey) %% 16 — engine-portable, no rand() — and "
        "the dimension side replicates 16x (operators/skew.py::"
        "replicate_for_salted_join), so the equi-join key becomes "
        "(custkey, salt) and a hot customer's rows spread over 16 "
        "reducers instead of one. The oracle runs the PLAIN join: "
        "identical aggregates prove salting is a pure physical "
        "rewrite. At 100 TB this is the escape hatch when one key "
        "holds a double-digit percent of the fact table and AQE's "
        "skew split cannot help (e.g. the join side of a broadcast-"
        "ineligible dimension).",
)
def salted_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.hashing import h32
    from ..operators.skew import replicate_for_salted_join
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice",
        (h32(F.col("o_orderkey").cast("string")) % F.lit(_SALT_N))
        .cast("int").alias("_salt"))
    # hint the SHUFFLE join explicitly: at this SF Catalyst would
    # broadcast the dim — which has no skew problem and would make
    # the salt dead code. The pattern exists for the 100 TB case
    # where the dim exceeds the broadcast threshold, so the query
    # pins that exact physical shape (plan-audited: ShuffledHashJoin
    # on (custkey, _salt), no broadcast).
    c = replicate_for_salted_join(
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment"), n_salts=_SALT_N) \
        .hint("shuffle_hash")
    j = o.join(c, (o["o_custkey"] == c["c_custkey"])
               & (o["_salt"] == c["_salt"]))
    return (j.groupBy("c_mktsegment")
             .agg(F.count("*").cast("bigint").alias("n_orders"),
                  F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
                   .cast("double").alias("total_revenue")))


_DOMAIN_CAP = 20


@register(
    "domain_cap_sample",
    f"""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                        % 4294967296, doc_id) AS pri
      FROM documents
    ),
    kept AS (SELECT doc_id, source FROM ranked WHERE pri <= {_DOMAIN_CAP})
    SELECT s.source,
           CAST(s.cnt AS BIGINT) AS n_docs,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source) s
    LEFT JOIN (SELECT source, COUNT(*) AS n_kept FROM kept GROUP BY source) k
      USING (source)
    """,
    doc="Per-domain document caps (the 'no more than K docs per "
        "domain/source' curation rule every web-scale corpus applies "
        "— C4 caps per URL-host, Gopher per domain — to stop a "
        "single crawler-friendly site dominating the mixture): each "
        "source keeps its top-{K} docs by a DETERMINISTIC hash "
        "priority (h32(doc_id), tie-broken by doc_id — a seedless "
        "uniform 'reservoir' both engines replay bit-identically; "
        "swap in a quality score for quality-ranked caps). One "
        "source-partitioned window + per-source counts; at 100 TB "
        "the window shuffles (source, doc_id, 8-byte hash) rows and "
        "hot domains are exactly the rows the cap discards.".format(
            K=_DOMAIN_CAP),
)
def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    from ..operators.hashing import h32
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(
        h32(F.col("doc_id").cast("string")), F.col("doc_id"))
    kept = (d.withColumn("pri", F.row_number().over(w))
             .filter(F.col("pri") <= _DOMAIN_CAP)
             .groupBy("source").agg(F.count("*").alias("n_kept")))
    totals = d.groupBy("source").agg(F.count("*").cast("bigint")
                                     .alias("n_docs"))
    return (totals.join(kept, "source", "left")
            .select("source", "n_docs",
                    F.coalesce("n_kept", F.lit(0)).cast("bigint")
                     .alias("n_kept")))


@register(
    "monthly_spine_gapfill",
    """
    WITH RECURSIVE bounds AS (
      SELECT CAST(MIN(year(o_orderdate::DATE)) AS INT) AS lo_y,
             CAST(MAX(year(o_orderdate::DATE)) AS INT) AS hi_y,
             CAST(MIN(year(o_orderdate::DATE) * 12
                      + month(o_orderdate::DATE) - 1) AS INT) AS lo,
             CAST(MAX(year(o_orderdate::DATE) * 12
                      + month(o_orderdate::DATE) - 1) AS INT) AS hi
      FROM orders
    ),
    spine_y(y) AS (
      SELECT lo_y FROM bounds
      UNION ALL
      SELECT s.y + 1 FROM spine_y s, bounds b WHERE s.y < b.hi_y
    ),
    spine AS (
      SELECT s.y * 12 + u.m - 1 AS ym
      FROM spine_y s, unnest(range(1, 13)) AS u(m), bounds b
      WHERE s.y * 12 + u.m - 1 BETWEEN b.lo AND b.hi
    ),
    agg AS (
      SELECT CAST(year(o_orderdate::DATE) * 12
                  + month(o_orderdate::DATE) - 1 AS INT) AS ym,
             COUNT(*)::BIGINT AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS revenue
      FROM orders GROUP BY 1
    )
    SELECT (s.ym // 12)::INT AS year, (s.ym % 12 + 1)::INT AS month,
           CAST(COALESCE(a.n_orders, 0) AS BIGINT) AS n_orders,
           COALESCE(a.revenue, 0.0) AS revenue,
           a.n_orders IS NULL AS is_gap
    FROM spine s LEFT JOIN agg a ON a.ym = s.ym
    """,
    doc="Gap-filled monthly trend via Spark 4's NATIVE recursive CTE "
        "(WITH RECURSIVE, new in Spark 4.0 — a coverage surface no "
        "earlier Spark had): a YEAR spine is generated recursively "
        "between the data's min and max year, months fan out "
        "vectorized (explode of sequence(1,12) — recursion LEVELS "
        "cost a micro-plan each, so the spine recurses at the "
        "coarsest granularity and lets codegen do the fan-out; the "
        "month-per-level formulation measured 10x slower), and the "
        "monthly aggregate left-joins onto the spine so months with "
        "zero orders appear as explicit zero rows — the date-spine "
        "pattern every BI tool needs (a plain GROUP BY silently "
        "omits empty months and trend charts lie). Recursion is the "
        "textbook-safe shape: acyclic, depth = year span (calendar-"
        "bounded). Cyclic-graph closure stays OFF this surface by "
        "design: Spark recursion is UNION ALL-only (walk "
        "enumeration), so dedup components remain on the iterative "
        "operators (dedup_clusters*).",
)
def monthly_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid
    tag = uuid.uuid4().hex[:12]
    view = f"_spine_orders_{tag}"
    bview = f"_spine_bounds_{tag}"
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView(view)
    # materialize the 1-row bounds ONCE: the recursive step references
    # bounds every level, and an unmaterialized CTE would rescan and
    # re-aggregate the fact table per recursion level (measured 3.4s
    # -> 0.9s at sf0.1). localCheckpoint keeps this collect-free;
    # the checkpointed subtree is one row of four ints.
    ym = (F.year(F.col("o_orderdate").cast("date")) * 12
          + F.month(F.col("o_orderdate").cast("date")) - 1)
    bounds = checkpoint(
        o.agg(F.min(F.year(F.col("o_orderdate").cast("date")))
               .cast("int").alias("lo_y"),
              F.max(F.year(F.col("o_orderdate").cast("date")))
               .cast("int").alias("hi_y"),
              F.min(ym).cast("int").alias("lo"),
              F.max(ym).cast("int").alias("hi")))
    bounds.createOrReplaceTempView(bview)
    try:
        return spark.sql(f"""
            WITH RECURSIVE bounds AS (SELECT * FROM {bview}),
            spine_y AS (
              SELECT lo_y AS y FROM bounds
              UNION ALL
              SELECT s.y + 1 FROM spine_y s JOIN bounds b ON s.y < b.hi_y
            ),
            spine AS (
              SELECT s.y * 12 + u.m - 1 AS ym
              FROM spine_y s
              CROSS JOIN bounds b
              LATERAL VIEW explode(sequence(1, 12)) u AS m
              WHERE s.y * 12 + u.m - 1 BETWEEN b.lo AND b.hi
            ),
            agg AS (
              SELECT CAST(year(CAST(o_orderdate AS DATE)) * 12
                          + month(CAST(o_orderdate AS DATE)) - 1 AS INT)
                       AS ym,
                     CAST(COUNT(*) AS BIGINT) AS n_orders,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                          AS DOUBLE) AS revenue
              FROM {view} GROUP BY 1
            )
            SELECT CAST(s.ym div 12 AS INT) AS year,
                   CAST(s.ym % 12 + 1 AS INT) AS month,
                   CAST(COALESCE(a.n_orders, 0) AS BIGINT) AS n_orders,
                   COALESCE(a.revenue, 0.0D) AS revenue,
                   a.n_orders IS NULL AS is_gap
            FROM spine s LEFT JOIN agg a ON a.ym = s.ym""")
    finally:
        spark.catalog.dropTempView(view)
        spark.catalog.dropTempView(bview)
