"""Third relational-coverage wave — the classic TPC-H query shapes
the harness tables support without partsupp: groupwise-min join (Q2),
share-of-global-total (Q11/Q8), HAVING-gated re-join (Q18),
conditional-aggregate ratio (Q14), and excluded-set distinct counting
(Q16). SURVEY.md §2.3-§2.4 relational completeness.

All aggregates follow the registry's decimal-exact-sum policy; every
ratio is a division of two deterministic doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.cache import persist
from ..sources.registry import load_table
from . import register
from .relational import (DEC, _osum, _osum_exact, dsum, dsum_exact,
                         micros)

_Q2_SIZES = (15, 25, 35)


@register(
    "min_cost_part_supplier",
    f"""
    SELECT p_partkey, p_brand, p_size, t.s_suppkey, s_name, n_name, min_price
    FROM (
      SELECT p.p_partkey, p.p_brand, p.p_size,
             l.l_suppkey AS s_suppkey, l.l_extendedprice AS min_price,
             row_number() OVER (PARTITION BY p.p_partkey
                                ORDER BY l.l_extendedprice, l.l_suppkey) AS rn
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_size IN {_Q2_SIZES}
    ) t
    JOIN supplier s ON t.s_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE rn = 1
    """,
    doc="TPC-H Q2 shape (groupwise minimum): for each part of the "
        "selected sizes, the supplier offering the cheapest lineitem "
        "price (tie-break lowest suppkey), enriched with supplier and "
        "nation names. The size filter reaches the part scan, part "
        "broadcasts into the fact join, the per-part argmin is one "
        "windowed shuffle on partkey, and both enrichment joins "
        "broadcast — no sort-merge anywhere.",
)
def min_cost_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part") \
        .filter(F.col("p_size").isin(*_Q2_SIZES)) \
        .select("p_partkey", "p_brand", "p_size")
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_partkey", "l_suppkey", "l_extendedprice")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("p_partkey") \
              .orderBy("l_extendedprice", "l_suppkey")
    best = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") == 1))
    return (best.join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
                .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
                .select("p_partkey", "p_brand", "p_size",
                        F.col("l_suppkey").alias("s_suppkey"),
                        "s_name", "n_name",
                        F.col("l_extendedprice").alias("min_price")))


@register(
    "nation_revenue_share",
    f"""
    WITH rev AS (
      SELECT n.n_name,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(38,6))) AS revenue_dec
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    ),
    tot AS (SELECT CAST(SUM(revenue_dec) AS DOUBLE) AS total FROM rev)
    SELECT n_name, CAST(revenue_dec AS DOUBLE) AS revenue,
           CAST(revenue_dec AS DOUBLE) / total AS share
    FROM rev CROSS JOIN tot
    WHERE CAST(revenue_dec AS DOUBLE) / total > 0.02
    """,
    doc="TPC-H Q11 shape (share of global total): per-nation revenue "
        "vs the grand total, keeping nations above a 2% share. The "
        "25-row nation rollup is persisted, so the grand-total "
        "re-aggregate broadcast back reads the cached rollup — the "
        "corpus-sized data is scanned exactly once however large it "
        "gets, and no single-partition window exists anywhere "
        "(Catalyst does not dedupe repeated DataFrame subplans; the "
        "persist is what makes the two references to `rev` one scan). "
        "Per-nation partials stay DECIMAL through the grand-total "
        "merge — re-casting an AGGREGATED double to decimal is "
        "engine-dependent at the half-ulp (the r05 "
        "mergeable_partial_aggs lesson); only raw inputs cross "
        "double→decimal, and decimal→double happens once on output.",
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_extendedprice", "l_discount")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev_expr = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    rev = persist(li.join(o, li.l_orderkey == o.o_orderkey)
                    .join(c, o.o_custkey == c.c_custkey)
                    .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
                    .groupBy("n_name")
                    .agg(F.sum(rev_expr).alias("revenue_dec")))
    total = rev.agg(F.sum("revenue_dec").cast("double").alias("_total"))
    rev_d = F.col("revenue_dec").cast("double")
    share = rev_d / F.col("_total")
    return (rev.crossJoin(F.broadcast(total))
               .select("n_name", rev_d.alias("revenue"),
                       share.alias("share"))
               .filter(F.col("share") > 0.02))


_Q18_QTY = 200


@register(
    "large_orders",
    f"""
    WITH big AS (
      SELECT l_orderkey, {_osum('l_quantity')} AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > {_Q18_QTY}
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, b.total_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY b.total_qty DESC, o.o_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q18 shape (HAVING-gated re-join): orders whose total "
        "quantity exceeds the threshold, joined back to orders and "
        "customer, top-20 by quantity. The heavy aggregate runs "
        "first and its survivors (a tiny set) broadcast into the "
        "enrichment joins; ORDER BY+LIMIT plans TakeOrderedAndProject.",
)
def large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
             .agg(dsum("l_quantity").alias("total_qty"))
             .filter(F.col("total_qty") > _Q18_QTY))
    return (o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
             .join(c, o.o_custkey == c.c_custkey)
             .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                     "o_totalprice", "total_qty")
             .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
             .limit(20))


@register(
    "promo_revenue_share",
    f"""
    SELECT CAST(year(l.l_shipdate) AS INTEGER) AS year,
           CAST(month(l.l_shipdate) AS INTEGER) AS month,
           {_osum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")} AS promo_revenue,
           {_osum('l.l_extendedprice * (1 - l.l_discount)')} AS total_revenue,
           100.0 * {_osum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
             / {_osum('l.l_extendedprice * (1 - l.l_discount)')} AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
    """,
    doc="TPC-H Q14 shape (conditional-aggregate ratio): monthly share "
        "of revenue from PROMO-type parts. One fact scan, part "
        "broadcasts, the CASE folds into the partial aggregate — the "
        "ratio costs nothing beyond the single group-by.",
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    out = j.groupBy(
        F.year("l_shipdate").alias("year"),
        F.month("l_shipdate").alias("month")).agg(
        F.sum(promo.cast(DEC)).cast("double").alias("promo_revenue"),
        F.sum(rev.cast(DEC)).cast("double").alias("total_revenue"))
    return out.select(
        "year", "month", "promo_revenue", "total_revenue",
        (F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"))
        .alias("promo_pct"))


_Q16_SIZES = (1, 4, 7, 10, 13, 16, 19, 22)


@register(
    "brand_size_supplier_counts",
    f"""
    SELECT p.p_brand, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt,
           COUNT(*) AS n_lineitems
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#15' AND p.p_size IN {_Q16_SIZES}
    GROUP BY p.p_brand, p.p_size
    """,
    doc="TPC-H Q16 shape (excluded-set distinct counting): distinct "
        "suppliers per (brand, size) over an anti-filtered part set. "
        "The exclusion predicates push to the part scan; the distinct "
        "aggregate is Catalyst's expand + two-stage HashAggregate, "
        "shuffling (brand,size,suppkey) triples only.",
)
def brand_size_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (load_table(spark, sf_dir, "part")
         .filter((F.col("p_brand") != "Brand#15")
                 & F.col("p_size").isin(*_Q16_SIZES))
         .select("p_partkey", "p_brand", "p_size"))
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .groupBy("p_brand", "p_size")
              .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"),
                   F.count("*").alias("n_lineitems")))


@register(
    "customer_order_fill",
    f"""
    SELECT c.c_custkey, c.c_mktsegment,
           COALESCE(o.n_orders, 0) AS n_orders,
           COALESCE(o.revenue, 0.0) AS revenue,
           o.n_orders IS NULL AS is_dormant
    FROM customer c
    LEFT JOIN (
      SELECT o_custkey, COUNT(*) AS n_orders,
             {_osum('o_totalprice')} AS revenue
      FROM orders GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    """,
    doc="Left outer join with null-fill: every customer keeps a row, "
        "order-less customers surface with zeroed metrics and a "
        "dormant flag — the outer-join + COALESCE contract. "
        "Aggregate-then-join keeps the outer join's build side at "
        "one row per customer instead of one per order.",
)
def customer_order_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = (load_table(spark, sf_dir, "orders")
         .groupBy("o_custkey")
         .agg(F.count("*").alias("n_orders"),
              dsum("o_totalprice").alias("revenue")))
    return (c.join(o, c.c_custkey == o.o_custkey, "left")
             .select("c_custkey", "c_mktsegment",
                     F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
                     F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
                     F.col("n_orders").isNull().alias("is_dormant")))


@register(
    "monthly_revenue_reconciliation",
    f"""
    WITH booked AS (
      SELECT CAST(year(o_orderdate::DATE) AS INTEGER) AS year,
             CAST(month(o_orderdate::DATE) AS INTEGER) AS month,
             {_osum('o_totalprice')} AS booked_revenue
      FROM orders GROUP BY 1, 2
    ),
    shipped AS (
      SELECT CAST(year(l_shipdate) AS INTEGER) AS year,
             CAST(month(l_shipdate) AS INTEGER) AS month,
             {_osum('l_extendedprice * (1 - l_discount)')} AS shipped_revenue
      FROM lineitem GROUP BY 1, 2
    )
    SELECT COALESCE(b.year, s.year) AS year,
           COALESCE(b.month, s.month) AS month,
           COALESCE(b.booked_revenue, 0.0) AS booked_revenue,
           COALESCE(s.shipped_revenue, 0.0) AS shipped_revenue,
           b.year IS NULL OR s.year IS NULL AS one_sided
    FROM booked b
    FULL OUTER JOIN shipped s ON b.year = s.year AND b.month = s.month
    """,
    doc="Full outer join reconciliation: booked revenue (orders, by "
        "order month) vs shipped revenue (lineitem, by ship month), "
        "keeping months that exist on only one side — the ledger-"
        "comparison shape. Both sides pre-aggregate to month grain "
        "before the outer join, so the join input is dozens of rows "
        "regardless of fact size.",
)
def monthly_revenue_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    booked = (o.groupBy(
                F.year(F.col("o_orderdate").cast("date")).alias("year"),
                F.month(F.col("o_orderdate").cast("date")).alias("month"))
               .agg(dsum("o_totalprice").alias("booked_revenue")))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    shipped = (li.groupBy(F.year("l_shipdate").alias("year"),
                          F.month("l_shipdate").alias("month"))
                 .agg(F.sum(rev).cast("double").alias("shipped_revenue")))
    b, s = booked.alias("b"), shipped.alias("s")
    return (b.join(s, (F.col("b.year") == F.col("s.year"))
                   & (F.col("b.month") == F.col("s.month")), "full_outer")
             .select(
                 F.coalesce("b.year", "s.year").alias("year"),
                 F.coalesce("b.month", "s.month").alias("month"),
                 F.coalesce("booked_revenue", F.lit(0.0))
                  .alias("booked_revenue"),
                 F.coalesce("shipped_revenue", F.lit(0.0))
                  .alias("shipped_revenue"),
                 (F.col("b.year").isNull() | F.col("s.year").isNull())
                  .alias("one_sided")))


@register(
    "rolling_hour_user_value",
    """
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rolling_1h_value,
           COUNT(*) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS rolling_1h_events
    FROM events
    """,
    doc="RANGE-frame window over event time: per user, the sum/count "
        "of activity in the trailing hour AT each event — a true "
        "value-range frame (all rows within 3600s), not a row-count "
        "frame, so simultaneous/bursty events are included whole. One "
        "shuffle on user_id; the frame bound is microseconds of epoch "
        "time on both engines. Decimal-exact sum keeps the rolling "
        "total portable.",
)
def rolling_hour_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    e = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy(F.unix_micros("ts"))
         .rangeBetween(-3600 * 1000000, Window.currentRow))
    return e.select(
        "event_id", "user_id", "ts",
        F.sum(F.col("value").cast(DEC)).over(w).cast("double")
         .alias("rolling_1h_value"),
        F.count("*").over(w).alias("rolling_1h_events"))


_SPINE_SPARK_SQL = """
WITH RECURSIVE bounds AS (
  SELECT min(date_trunc('MONTH', CAST(o_orderdate AS DATE))) AS lo,
         max(date_trunc('MONTH', CAST(o_orderdate AS DATE))) AS hi
  FROM orders
),
spine(m, hi) AS (
  SELECT lo, hi FROM bounds
  UNION ALL
  SELECT m + INTERVAL '1' MONTH, hi FROM spine WHERE m < hi
),
monthly AS (
  SELECT date_trunc('MONTH', CAST(o_orderdate AS DATE)) AS m,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT CAST(s.m AS DATE) AS month, COALESCE(mo.n_orders, 0) AS n_orders,
       mo.m IS NULL AS is_gap
FROM spine s LEFT JOIN monthly mo ON s.m = mo.m
"""


@register(
    "month_spine_fill",
    _SPINE_SPARK_SQL.replace("INTERVAL '1' MONTH", "INTERVAL 1 MONTH"),
    doc="Recursive CTE (Spark >= 4.0 WITH RECURSIVE, via spark.sql): "
        "generate the complete month spine between the first and last "
        "order month, left join the monthly counts, and flag gap "
        "months — the calendar-densification step every trend "
        "dashboard needs (an inner group-by silently drops empty "
        "months). The recursion carries the upper bound as a column "
        "so the recursive term stays uncorrelated; depth = number of "
        "months, rows per step = 1.",
)
def month_spine_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SPINE_SPARK_SQL)


_LATERAL_SQL = """
SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
WHERE c.c_mktsegment = 'MACHINERY'
"""


@register(
    "lateral_top_orders",
    _LATERAL_SQL,
    doc="Correlated LATERAL subquery with per-row ORDER BY + LIMIT "
        "(Spark >= 3.4 lateral join support, via spark.sql): each "
        "machinery-segment customer's top-2 orders by value. Catalyst "
        "decorrelates the lateral into a window/join plan instead of "
        "executing the subquery per row — the declarative form of "
        "top-k-per-group, checked against DuckDB's native LATERAL.",
)
def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_LATERAL_SQL)


@register(
    "volume_shipping",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS year,
           {_osum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
       OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q7 shape (bilateral trade volume): revenue between two "
        "nations by supplier-side and customer-side nationality, per "
        "ship year. Five joins; supplier and both nation tables "
        "broadcast, the nation-pair disjunction prunes after the "
        "dimension joins. The classic multi-hop dimension-chain "
        "aggregate.",
)
def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_suppkey", "l_shipdate",
                "l_extendedprice", "l_discount")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"),
                  F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"),
                  F.col("n_name").alias("cust_nation"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    pair = (((F.col("supp_nation") == "NATION_3")
             & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7")
               & (F.col("cust_nation") == "NATION_3")))
    return (li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
              .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
              .join(o, li.l_orderkey == o.o_orderkey)
              .join(c, o.o_custkey == c.c_custkey)
              .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
              .filter(pair)
              .groupBy("supp_nation", "cust_nation",
                       F.year("l_shipdate").alias("year"))
              .agg(F.sum(rev).cast("double").alias("revenue")))


@register(
    "disjunctive_predicate_revenue",
    f"""
    SELECT {_osum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
    doc="TPC-H Q19 shape (disjunction of conjunctions): revenue from "
        "three OR-ed brand/size/quantity envelopes. Catalyst pushes "
        "the common part-side residual (brand IN + size bounds) to "
        "the broadcast build and evaluates the full tri-clause "
        "disjunction post-join — the single-row aggregate makes this "
        "the predicate-logic stress test.",
)
def disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    env = (((F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11))
           | ((F.col("p_brand") == "Brand#23")
              & F.col("p_size").between(1, 10)
              & F.col("l_quantity").between(10, 20))
           | ((F.col("p_brand") == "Brand#34")
              & F.col("p_size").between(1, 15)
              & F.col("l_quantity").between(20, 30)))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    return j.filter(env).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count("*").alias("n_lineitems"))


@register(
    "dormant_rich_customers",
    f"""
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6)))
                  AS DECIMAL(38,6)) AS sum_positive,
             COUNT(*) AS n_positive
      FROM customer WHERE c_acctbal > 0
    ),
    last AS (
      SELECT o_custkey, max(o_orderdate::DATE) AS last_order
      FROM orders GROUP BY o_custkey
    )
    SELECT c.c_mktsegment,
           COUNT(*) AS n_customers,
           CAST({_osum_exact('c.c_acctbal')} * 1000000 AS BIGINT)
             AS total_balance_micros
    FROM customer c
    JOIN last l ON c.c_custkey = l.o_custkey
    CROSS JOIN avg_bal
    WHERE CAST(c.c_acctbal AS DECIMAL(38,6)) * 2 * avg_bal.n_positive
            > avg_bal.sum_positive
      AND l.last_order < DATE '2000-06-01'
    GROUP BY c.c_mktsegment
    """,
    doc="TPC-H Q22 shape (dormant accounts with money on the books): "
        "customers above half the positive-balance average whose LAST "
        "order predates the cutoff, rolled up by segment. Scalar-"
        "subquery threshold broadcasts as a single row; the last-order "
        "table is a keys-only aggregate joined back.",
)
def dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    # Threshold compared in EXACT decimal arithmetic (2*bal*n > sum)
    # rather than against a double average: a double threshold makes
    # row MEMBERSHIP engine-dependent at one-ulp boundaries.
    thr = (c.filter(F.col("c_acctbal") > 0)
            .agg(F.sum(F.col("c_acctbal").cast(DEC)).cast(DEC)
                  .alias("sum_positive"),
                 F.count("*").alias("n_positive")))
    last = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"))
    return (c.join(last, c.c_custkey == last.o_custkey)
             .crossJoin(F.broadcast(thr))
             .filter((F.col("c_acctbal").cast(DEC) * 2 * F.col("n_positive")
                      > F.col("sum_positive"))
                     & (F.col("last_order") < F.lit("2000-06-01").cast("date")))
             .groupBy("c_mktsegment")
             .agg(F.count("*").alias("n_customers"),
                  micros(dsum_exact("c_acctbal"))
                  .alias("total_balance_micros")))
