"""Fourth relational-coverage wave — the remaining classic TPC-H
query shapes expressible over the harness tables (which lack partsupp
and lineitem's shipmode/commit/receipt columns; those queries are
adapted to equivalent plan shapes on the columns that exist):

- Q4  semi-join existence count        -> order_priority_exists
- Q6  band-predicate single aggregate  -> discount_band_revenue
- Q8  market-share ratio               -> nation_market_share
- Q9  derived-profit rollup            -> product_type_profit
- Q10 returned-item top customers      -> returned_item_customers
- Q12 two-way conditional counts       -> priority_linestatus_counts
- Q13 outer-join count histogram       -> customer_order_histogram
- Q15 argmax-over-aggregate            -> top_revenue_supplier
- Q17 correlated avg threshold         -> small_quantity_revenue
- Q20 nested semi-join chain           -> heavy_shipper_suppliers
- Q21 multi-EXISTS self-join           -> sole_failing_suppliers

SURVEY.md §2.3-§2.4 relational completeness. All aggregates follow
the registry's decimal-exact-sum policy; since r7, pure-sum OUTPUT
columns stay DECIMAL(38,6) end-to-end (no terminal double cast —
decimal->double rounding is engine-build-dependent at one-ulp
boundaries, the mergeable_partial_aggs lesson) and every ratio/avg
routes through exact BIGINT micros before its single IEEE division
(relational.micros/_omicros). Thresholds and argmax comparisons are
exact decimal/integer arithmetic, never float — row MEMBERSHIP must
not depend on a cast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.cache import persist
from ..sources.registry import load_table
from . import register
from .relational import (DEC, _omicros, _osum, _osum_exact, dsum,
                         dsum_exact, micros)


@register(
    "order_priority_exists",
    """
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate::DATE >= DATE '1996-01-01'
      AND o.o_orderdate::DATE < DATE '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    """,
    doc="TPC-H Q4 shape (existence-gated priority count): orders in a "
        "one-year window having at least one returned lineitem, "
        "counted per priority. The EXISTS is a left-semi hash join on "
        "orderkey — the probe side never duplicates order rows however "
        "many lineitems match; the date filter pushes to the orders "
        "scan (partition-prunable at scale).",
)
def order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (load_table(spark, sf_dir, "orders")
         .withColumn("od", F.col("o_orderdate").cast("date"))
         .filter((F.col("od") >= F.lit("1996-01-01").cast("date"))
                 & (F.col("od") < F.lit("1997-01-01").cast("date"))))
    ret = (load_table(spark, sf_dir, "lineitem")
           .filter(F.col("l_returnflag") == "R")
           .select("l_orderkey"))
    return (o.join(ret, o.o_orderkey == ret.l_orderkey, "left_semi")
             .groupBy("o_orderpriority")
             .agg(F.count("*").alias("n_orders")))


@register(
    "discount_band_revenue",
    f"""
    SELECT CAST({_osum_exact('l_extendedprice * l_discount')}
                * 1000000 AS BIGINT) AS revenue_micros,
           COUNT(*) AS n_lineitems
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape (band-predicate forecast revenue): a single "
        "scan with all three range predicates pushed to parquet "
        "(PushedFilters on shipdate/discount/quantity) feeding one "
        "partial+final aggregate — the minimal full-scan query; at "
        "scale it is bounded purely by I/O after pruning.",
)
def discount_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * F.col("l_discount")).cast(DEC)
    return (li.filter((F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
                      & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
                      & F.col("l_discount").between(0.02, 0.04)
                      & (F.col("l_quantity") < 24))
              .agg(micros(F.sum(rev).cast(DEC)).alias("revenue_micros"),
                   F.count("*").alias("n_lineitems")))


_Q8_REGION = "ASIA"
_Q8_NATION = "NATION_2"


@register(
    "nation_market_share",
    f"""
    WITH market AS (
      SELECT CAST(year(o.o_orderdate::DATE) AS INTEGER) AS year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      JOIN region r ON n2.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      WHERE r.r_name = '{_Q8_REGION}'
    )
    , agg AS (
      SELECT year,
             {_osum_exact(f"CASE WHEN supp_nation = '{_Q8_NATION}' THEN volume ELSE 0 END")} AS nation_volume,
             {_osum_exact('volume')} AS market_volume
      FROM market GROUP BY year
    )
    SELECT year,
           {_omicros('nation_volume')} AS nation_volume_micros,
           {_omicros('market_volume')} AS market_volume_micros,
           CAST({_omicros('nation_volume')} AS DOUBLE)
             / CAST({_omicros('market_volume')} AS DOUBLE) AS market_share
    FROM agg
    """,
    doc="TPC-H Q8 shape (market share): the fraction of a region's "
        "customer market supplied by one nation, per order year. Six "
        "joins; every dimension (supplier, both nations, region) "
        "broadcasts, the region filter prunes the customer side "
        "before the fact join, and the share folds into ONE aggregate "
        "via conditional sum — no second scan, no self-join.",
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    o = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # customer-side nation restricted to the target region (prunes the
    # market before the fact join)
    n2 = (n.join(F.broadcast(r.filter(F.col("r_name") == _Q8_REGION)),
                 n.n_regionkey == r.r_regionkey)
           .select(F.col("n_nationkey").alias("n2_key")))
    n1 = n.select(F.col("n_nationkey").alias("n1_key"),
                  F.col("n_name").alias("supp_nation"))
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    nat_vol = F.when(F.col("supp_nation") == _Q8_NATION, vol) \
               .otherwise(F.lit(0.0))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(c, o.o_custkey == c.c_custkey)
              .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"),
                    "left_semi")
              .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
              .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
              .groupBy(F.year(F.col("o_orderdate").cast("date")).alias("year"))
              .agg(F.sum(nat_vol.cast(DEC)).cast(DEC).alias("nation_volume"),
                   F.sum(vol.cast(DEC)).cast(DEC).alias("market_volume"))
              .select("year",
                      micros(F.col("nation_volume"))
                      .alias("nation_volume_micros"),
                      micros(F.col("market_volume"))
                      .alias("market_volume_micros"),
                      (micros(F.col("nation_volume")).cast("double")
                       / micros(F.col("market_volume")).cast("double"))
                      .alias("market_share")))


_Q9_COST = 0.6  # stand-in supply-cost fraction of retail price (no partsupp)


@register(
    "product_type_profit",
    f"""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate::DATE) AS INTEGER) AS year,
           CAST({_osum_exact(f'l.l_extendedprice * (1 - l.l_discount) - {_Q9_COST} * p.p_retailprice * l.l_quantity')}
                * 1000000 AS BIGINT) AS profit_micros
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY 1, 2
    """,
    doc="TPC-H Q9 shape (derived-profit rollup): profit on pattern-"
        "matched parts by supplier nation and order year; supply cost "
        "stands in as a retail-price fraction (no partsupp table in "
        "the harness). The LIKE filter prunes part before it "
        "broadcasts; supplier/nation broadcast; orders joins on the "
        "already part-filtered fact rows. The profit expression folds "
        "into the partial aggregate.",
)
def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_partkey", "l_suppkey",
                "l_quantity", "l_extendedprice", "l_discount")
    p = (load_table(spark, sf_dir, "part")
         .filter(F.col("p_name").like("%gear%"))
         .select("p_partkey", "p_retailprice"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - _Q9_COST * F.col("p_retailprice") * F.col("l_quantity"))
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
              .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
              .join(o, li.l_orderkey == o.o_orderkey)
              .groupBy(F.col("n_name").alias("nation"),
                       F.year(F.col("o_orderdate").cast("date")).alias("year"))
              .agg(micros(F.sum(profit.cast(DEC)).cast(DEC))
                   .alias("profit_micros")))


@register(
    "returned_item_customers",
    f"""
    SELECT c.c_custkey, c.c_name, c.c_acctbal, c.c_mktsegment,
           n.n_name,
           CAST({_osum_exact('l.l_extendedprice * (1 - l.l_discount)')}
                * 1000000 AS BIGINT) AS revenue_micros
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate::DATE >= DATE '1996-01-01'
      AND o.o_orderdate::DATE < DATE '1996-07-01'
    GROUP BY 1, 2, 3, 4, 5
    ORDER BY revenue_micros DESC, c.c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape (returned-item reporting): the top-20 "
        "customers by revenue lost to returns in a half-year window. "
        "The returnflag filter pushes to the lineitem scan and the "
        "date filter to orders; customer and nation broadcast into "
        "the aggregated fact; ORDER BY+LIMIT plans "
        "TakeOrderedAndProject (per-partition heaps, no global sort).",
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = (load_table(spark, sf_dir, "orders")
         .withColumn("od", F.col("o_orderdate").cast("date"))
         .filter((F.col("od") >= F.lit("1996-01-01").cast("date"))
                 & (F.col("od") < F.lit("1996-07-01").cast("date")))
         .select("o_orderkey", "o_custkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_returnflag") == "R")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(c, o.o_custkey == c.c_custkey)
              .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
              .groupBy("c_custkey", "c_name", "c_acctbal",
                       "c_mktsegment", "n_name")
              .agg(micros(F.sum(rev).cast(DEC)).alias("revenue_micros"))
              .orderBy(F.desc("revenue_micros"), F.asc("c_custkey"))
              .limit(20))


@register(
    "priority_linestatus_counts",
    """
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'A'
      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_linestatus
    """,
    doc="TPC-H Q12 shape (two-way conditional count after join): per "
        "line status, how many shipped-returned lineitems belong to "
        "high- vs low-priority orders. Both CASE counts fold into one "
        "partial aggregate on the joined rows; the selective lineitem "
        "filters push to its scan so the join probe side is small.",
)
def priority_linestatus_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_returnflag") == "A")
                  & (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
          .select("l_orderkey", "l_linestatus"))
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .groupBy("l_linestatus")
              .agg(F.sum(F.when(high, 1).otherwise(0))
                    .alias("high_priority_count"),
                   F.sum(F.when(~high, 1).otherwise(0))
                    .alias("low_priority_count")))


@register(
    "customer_order_histogram",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c.c_custkey
    ) t
    GROUP BY c_count
    """,
    doc="TPC-H Q13 shape (outer-join count histogram): customers "
        "bucketed by how many qualifying orders they placed, "
        "INCLUDING zero-order customers (the filter lives in the "
        "left-join condition, not a WHERE — moving it would silently "
        "drop the zero bucket). Two aggregations: per-customer count "
        "(shuffles custkey), then the tiny histogram rollup.",
)
def customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey",
                                                   "o_orderpriority")
    cond = (c.c_custkey == o.o_custkey) \
        & (F.col("o_orderpriority") != "4-NOT SPECIFIED")
    per_cust = (c.join(o, cond, "left")
                 .groupBy("c_custkey")
                 .agg(F.count("o_orderkey").alias("c_count")))
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "top_revenue_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey, {_osum_exact('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-07-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, n.n_name,
           CAST(r.total_revenue * 1000000 AS BIGINT)
             AS total_revenue_micros
    FROM rev r
    JOIN supplier s ON r.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
    doc="TPC-H Q15 shape (argmax over an aggregate view): the "
        "supplier(s) with maximum half-year revenue. The per-supplier "
        "rollup is persisted and the max re-aggregated to one row and "
        "broadcast-joined back — lineitem is scanned once (Catalyst "
        "does not dedupe repeated subplans; the persist makes the two "
        "references to `rev` one scan), and the supplier-count-sized "
        "rollup never funnels through a single-partition window. "
        "Supplier and nation broadcast into the final result. "
        "total_revenue stays DECIMAL end-to-end so the argmax "
        "EQUALITY is exact integer comparison — a double argmax "
        "could tie differently across engines at a one-ulp "
        "boundary and change the row count (r7 portability "
        "policy).",
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))))
    rev = persist(li.groupBy("l_suppkey")
                    .agg(dsum_exact(F.col("l_extendedprice")
                                    * (1 - F.col("l_discount")))
                         .alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    best = (rev.crossJoin(F.broadcast(mx))
               .filter(F.col("total_revenue") == F.col("_mx")))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (best.join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
                .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
                .select("s_suppkey", "s_name", "n_name",
                        micros(F.col("total_revenue"))
                        .alias("total_revenue_micros")))


@register(
    "small_quantity_revenue",
    f"""
    WITH thr AS (
      SELECT l_partkey,
             {_osum_exact('l_quantity')} AS sum_qty,
             COUNT(*) AS n_qty
      FROM lineitem GROUP BY l_partkey
    ),
    agg AS (
      SELECT {_osum_exact('l.l_extendedprice')} AS sum_price,
             COUNT(*) AS n_small
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN thr t ON l.l_partkey = t.l_partkey
      WHERE p.p_brand = 'Brand#2' AND p.p_type = 'PROMO'
        AND CAST(l.l_quantity AS DECIMAL(38,6)) * 5 * t.n_qty < t.sum_qty
    )
    SELECT CAST({_omicros('sum_price')} AS DOUBLE) / 7000000.0 AS avg_yearly,
           n_small
    FROM agg
    """,
    doc="TPC-H Q17 shape (correlated-average threshold): revenue from "
        "orders below a fifth of their part's average quantity. The "
        "correlated scalar subquery is decorrelated by hand into a "
        "per-part aggregate joined back (exact-sum/count average, "
        "never engine avg); the brand/type filters prune part before "
        "it broadcasts into both the fact side and the threshold "
        "join. At scale the threshold table is |parts|-sized — "
        "orders of magnitude under the fact table.",
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_partkey", "l_quantity", "l_extendedprice")
    p = (load_table(spark, sf_dir, "part")
         .filter((F.col("p_brand") == "Brand#2") & (F.col("p_type") == "PROMO"))
         .select("p_partkey"))
    # The Q17 threshold l_quantity < 0.2*avg(qty) is compared in EXACT
    # decimal arithmetic (5*qty*n < sum_qty): a double threshold would
    # make row MEMBERSHIP engine-dependent at one-ulp boundaries, which
    # is worse than a wobbly output value.  The final avg routes
    # through exact BIGINT micros so the only float ops are a
    # correctly-rounded int64->double conversion and one division.
    thr = (li.groupBy(F.col("l_partkey").alias("t_partkey"))
             .agg(dsum_exact("l_quantity").alias("sum_qty"),
                  F.count("*").alias("n_qty")))
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .join(thr, li.l_partkey == thr.t_partkey)
              .filter(F.col("l_quantity").cast(DEC) * 5 * F.col("n_qty")
                      < F.col("sum_qty"))
              .agg(dsum_exact("l_extendedprice").alias("sum_price"),
                   F.count("*").alias("n_small"))
              .select((micros(F.col("sum_price")).cast("double")
                       / F.lit(7000000.0)).alias("avg_yearly"),
                      "n_small"))


_Q20_QTY = 40


@register(
    "heavy_shipper_suppliers",
    f"""
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l
      WHERE l.l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'small%')
        AND year(l.l_shipdate) = 1997
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > {_Q20_QTY}
    )
    """,
    doc="TPC-H Q20 shape (nested semi-join chain): suppliers who "
        "shipped more than {qty} units of any pattern-matched part in "
        "a year. The inner IN prunes part by LIKE and semi-joins it "
        "into lineitem; the per-(supplier,part) HAVING aggregate "
        "yields a tiny key set that semi-joins into supplier — no "
        "row from any table is ever duplicated, both IN lists stay "
        "distinct-key-sized.".format(qty=_Q20_QTY),
)
def heavy_shipper_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (load_table(spark, sf_dir, "part")
         .filter(F.col("p_name").like("small%"))
         .select("p_partkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.year("l_shipdate") == 1997)
          .select("l_partkey", "l_suppkey", "l_quantity"))
    heavy = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
               .groupBy("l_suppkey", "l_partkey")
               .agg(dsum("l_quantity").alias("qty"))
               .filter(F.col("qty") > _Q20_QTY)
               .select("l_suppkey"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
             .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
             .select("s_suppkey", "s_name", "n_name"))


@register(
    "sole_failing_suppliers",
    """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 25
    """,
    doc="TPC-H Q21 shape (sole-failing-supplier): on finished multi-"
        "supplier orders, the supplier who was the ONLY one with a "
        "returned lineitem, ranked by incident count. The oracle's "
        "EXISTS / NOT-EXISTS pair is rewritten as ONE per-order "
        "aggregate (distinct suppliers; distinct failing suppliers) — "
        "exists-another-supplier == n_supp > 1, no-other-failer == "
        "n_fail_supp == 1 — so the plan is two hash joins and two "
        "aggregates instead of two correlated self-joins; the "
        "qualifying-order set is keys-only. Top-k plans "
        "TakeOrderedAndProject.",
)
def sole_failing_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    fo = (load_table(spark, sf_dir, "orders")
          .filter(F.col("o_orderstatus") == "F")
          .select("o_orderkey"))
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_suppkey", "l_returnflag")
    li_f = li.join(fo, li.l_orderkey == fo.o_orderkey, "left_semi")
    stats = (li_f.groupBy("l_orderkey")
                 .agg(F.countDistinct("l_suppkey").alias("n_supp"),
                      F.countDistinct(
                          F.when(F.col("l_returnflag") == "R",
                                 F.col("l_suppkey"))).alias("n_fail_supp")))
    qual = (stats.filter((F.col("n_supp") > 1) & (F.col("n_fail_supp") == 1))
                 .select(F.col("l_orderkey").alias("q_orderkey")))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (li_f.filter(F.col("l_returnflag") == "R")
                .join(qual, F.col("l_orderkey") == F.col("q_orderkey"),
                      "left_semi")
                .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
                .groupBy("s_name")
                .agg(F.count("*").alias("numwait"))
                .orderBy(F.desc("numwait"), F.asc("s_name"))
                .limit(25))


@register(
    "cdc_latest_state",
    """
    WITH log AS (
      SELECT o_orderkey AS key, o_orderdate AS op_ts,
             CASE WHEN o_orderkey % 10 = 0 THEN 'D'
                  WHEN o_orderkey % 3 = 0 THEN 'U' ELSE 'I' END AS op,
             o_totalprice AS val, o_orderstatus AS status
      FROM orders
      UNION ALL
      SELECT o_orderkey, o_orderdate + INTERVAL 30 DAY, 'U',
             o_totalprice * 1.1, o_orderstatus
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    latest AS (
      SELECT key, op, val, status FROM (
        SELECT key, op, val, status,
               row_number() OVER (PARTITION BY key
                                  ORDER BY op_ts DESC, op DESC) AS rn
        FROM log) WHERE rn = 1
    )
    SELECT status, COUNT(*) AS n_live,
           CAST(CAST(SUM(CAST(val AS DECIMAL(38,6))) AS DECIMAL(38,6))
                * 1000000 AS BIGINT) AS total_val_micros
    FROM latest WHERE op <> 'D' GROUP BY status
    """,
    doc="CDC apply (changelog -> current state): a synthetic I/U/D "
        "change log (orders plus a 30-day-later update wave) reduced "
        "to latest-op-wins per key via one ranking window, deletes "
        "dropped, live state rolled up. This is the log-compaction "
        "semantic every CDC sink (Debezium->lakehouse) needs; at "
        "100 TB the window shuffles once on key and the changelog "
        "prunes by op_ts partition before it. Deterministic "
        "tie-break (op DESC) pins simultaneous ops.",
)
def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderdate").alias("op_ts"),
        F.when(F.col("o_orderkey") % 10 == 0, "D")
         .when(F.col("o_orderkey") % 3 == 0, "U").otherwise("I").alias("op"),
        F.col("o_totalprice").alias("val"),
        F.col("o_orderstatus").alias("status"))
    upd = (o.filter(F.col("o_orderkey") % 7 == 0)
            .select(F.col("o_orderkey").alias("key"),
                    (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY"))
                     .alias("op_ts"),
                    F.lit("U").alias("op"),
                    (F.col("o_totalprice") * 1.1).alias("val"),
                    F.col("o_orderstatus").alias("status")))
    log = base.unionByName(upd)
    from pyspark.sql.window import Window
    w = Window.partitionBy("key").orderBy(F.desc("op_ts"), F.desc("op"))
    latest = (log.withColumn("rn", F.row_number().over(w))
                 .filter((F.col("rn") == 1) & (F.col("op") != "D")))
    return (latest.groupBy("status")
                  .agg(F.count("*").alias("n_live"),
                       micros(dsum_exact("val"))
                       .alias("total_val_micros")))


@register(
    "point_in_time_join",
    """
    WITH versions AS (
      SELECT o_custkey AS key, o_totalprice AS attr,
             o_orderdate AS valid_from,
             COALESCE(lead(o_orderdate) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey),
               TIMESTAMP '9999-12-31') AS valid_to,
             o_orderkey AS version_id
      FROM orders
    ),
    facts AS (
      SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate,
             o.o_custkey AS key
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT f.key, COUNT(*) AS n_enriched,
           CAST(CAST(SUM(CAST(v.attr AS DECIMAL(38,6)))
                     AS DECIMAL(38,6)) * 1000000 AS BIGINT)
             AS total_attr_micros,
           COUNT(DISTINCT v.version_id) AS n_versions_used
    FROM facts f
    JOIN versions v
      ON f.key = v.key
     AND f.l_shipdate >= v.valid_from
     AND f.l_shipdate < v.valid_to
    GROUP BY f.key
    """,
    doc="Point-in-time join (the feature-store correctness "
        "primitive): each fact row joins the dimension VERSION that "
        "was valid at its event time — validity windows derived with "
        "one lead() over the version history (deterministic "
        "tie-break on version id), then an equi join on the entity "
        "key with the time predicate as a post-join filter, so the "
        "join stays hash (never a range/nested-loop) and each fact "
        "matches exactly one version by construction. Prevents the "
        "train-time data leakage a naive latest-version join causes. "
        "At 100 TB both sides hash-partition on the entity key; the "
        "version table is orders of magnitude smaller than facts.",
)
def point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    versions = o.select(
        F.col("o_custkey").alias("key"),
        F.col("o_totalprice").alias("attr"),
        F.col("o_orderdate").alias("valid_from"),
        F.coalesce(F.lead("o_orderdate").over(w),
                   F.lit("9999-12-31").cast("timestamp")).alias("valid_to"),
        F.col("o_orderkey").alias("version_id"))
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_linenumber", "l_shipdate")
    facts = li.join(o.select("o_orderkey", F.col("o_custkey").alias("key")),
                    li.l_orderkey == F.col("o_orderkey"))
    j = (facts.join(versions,
                    (facts.key == versions.key)
                    & (F.col("l_shipdate") >= F.col("valid_from"))
                    & (F.col("l_shipdate") < F.col("valid_to")))
         .drop(versions.key))
    return (j.groupBy("key")
             .agg(F.count("*").alias("n_enriched"),
                  micros(dsum_exact("attr")).alias("total_attr_micros"),
                  F.countDistinct("version_id").alias("n_versions_used")))
