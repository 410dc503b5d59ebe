"""[EXT] Wave-8 operators: multi-criteria document selection (Pareto
skyline, nucleus top-p), basket mining (association rules with
support/confidence/lift), temporal state modelling (interval-union
coverage, SCD2 validity intervals), robust statistics (median/MAD
outlier flags), and exact proportional allocation (largest-remainder
quotas).

No reference counterpart (the reference is ingest glue + three fixed
aggregates, SURVEY.md §2) — these are the curation/selection
primitives a 100 TB training-data platform runs daily:

- **Pareto skyline** — "keep documents no other document beats on
  every quality axis" is the principled multi-criteria filter (no
  hand-tuned scalarization). The naive formulation is an O(n²)
  dominance anti-join; at scale we use the classic sweep: collapse to
  one candidate per distinct x (GROUP BY — the frontier can contain
  at most one point per x), then a single distributed prefix-max over
  x-descending order (`operators/prefix.py` two-pass shape — no
  single-partition window, no self-join). Work is O(|distinct x|)
  after the first agg, not O(n²).
- **Nucleus (top-p) selection** — per-source minimal prefix of the
  quality-ranked corpus covering ≥90% of the mass, the data-mixing
  analog of nucleus sampling. Membership is exact integer algebra
  (`(cum-x)*10 < tot*9`) on a PARTITIONED running sum — per-source
  windows parallelize across sources.
- **Association rules** — brand co-occurrence over order baskets with
  integer ppm confidence/lift. The pair join is per-basket (bounded
  by basket size k → k² candidate pairs per order, never corpus²);
  the dimension join broadcasts. Scale contract: the lift product
  routes through DECIMAL(38,0)/HUGEINT floor division (with the 1%
  support floor, bare int64 would wrap near ~3e7 baskets).
- **Interval-union coverage** — per-user union length of overlapping
  activity intervals (sweep-line via running max of interval end over
  a user-partitioned window). The standard "how much wall-clock was
  covered" metric; one shuffle on user_id.
- **SCD2 history** — collapse an event stream to type-2
  slowly-changing-dimension validity intervals (change-point filter
  via lag, then lead for valid_to). One window shuffle; the batch
  twin of cdc_latest_state.
- **Median/MAD outliers** — robust per-group outlier flags.  Both
  medians are DISCRETE (the element at row (n+1)//2 under a pinned
  total order) computed with row_number over group-partitioned
  windows — identical semantics in both engines by construction, no
  dependence on either engine's interpolating median builtin, and
  exact integer micro-units end-to-end (the r7/r8 portability
  policy).
- **Largest-remainder quota** — turn target proportions into integer
  slot allocations that sum EXACTLY to the budget (Hamilton
  apportionment): floor shares + remainder-ranked top-up, all int64
  arithmetic. The tiny aggregated frame ranks via a bounded
  broadcast self-join (|sources|² pairs), not a global window.
- **Time-decayed aggregation** — recency weighting with exact
  integer 2^-age decay (floor division by a shifted power of two),
  the bit-portable stand-in for float EWMA.
- **Consistent-hash rebalance audit** — mod-N vs hash-ring moved-row
  counts for a shard-count change; scan-local integer min over
  precomputed ring positions, the decision metric before a 100 TB
  reshard.
- **Source-overlap matrix** — pairwise cross-source shingle Jaccard
  (df-capped, hash-keyed) — the contamination census that precedes
  mixture weighting.
- **Systematic PPS sample** — probability-proportional-to-size
  selection via equally-spaced anchors on the global cumulative-size
  axis (distributed prefix sum) — deterministic, zero RNG,
  engine-exact integer membership.

Every output column is int64 / string / timestamp / bool — no float
leaves any query; every oracle integer SUM is CAST AS BIGINT
(tests/test_oracle_portability.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import word_tokens
from ..operators.cache import persist
from ..operators.prefix import with_global_running
from ..sources.registry import load_table
from . import register
from .llm_ext import _h32_sql

_TOKS_SQL = ("CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] "
             "ELSE string_split_regex(trim(lower(text)), '\\s+') END")


# ---------------------------------------------------------------- #
# Pareto (skyline) document frontier                                #
# ---------------------------------------------------------------- #

@register(
    "pareto_frontier_docs",
    f"""
    WITH t AS (SELECT {_TOKS_SQL} AS toks FROM documents),
    pts AS (
      SELECT len(toks)::BIGINT AS n_tokens,
             len(list_distinct(toks))::BIGINT AS n_distinct
      FROM t
    ),
    cnts AS (
      SELECT n_tokens, n_distinct, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM pts GROUP BY 1, 2
    ),
    px AS (
      SELECT n_tokens, max(n_distinct) AS nd
      FROM cnts GROUP BY n_tokens
    ),
    sw AS (
      SELECT n_tokens, nd,
             max(nd) OVER (ORDER BY n_tokens DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS mx
      FROM px
    )
    SELECT s.n_tokens, s.nd AS n_distinct, c.n_docs
    FROM sw s
    JOIN cnts c ON c.n_tokens = s.n_tokens AND c.n_distinct = s.nd
    WHERE s.mx IS NULL OR s.nd > s.mx
    """,
    doc="Pareto skyline over (token count, distinct-token count): "
        "documents on the maximal frontier — no other document is >= "
        "on both axes and > on one. Distributed sweep, not the O(n²) "
        "dominance anti-join: per-x max (the frontier holds at most "
        "one point per x), then one two-pass distributed prefix-max "
        "over x-descending order; a point survives iff it strictly "
        "raises the running max, recovered as max(x) per run of the "
        "(monotone) inclusive running max — no single-partition "
        "window anywhere.",
)
def pareto_frontier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = word_tokens(F.lower(F.col("text")))
    pts = docs.select(
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"))
    # persist: the distinct-point table feeds BOTH the per-x collapse
    # and the final frontier join — without it the tokenization scan
    # runs twice (point-count-sized, tiny vs the corpus)
    cnts = persist(pts.groupBy("n_tokens", "n_distinct")
                      .agg(F.count("*").alias("n_docs")))
    per_x = cnts.groupBy("n_tokens").agg(F.max("n_distinct").alias("nd"))
    # inclusive running MAX of nd over n_tokens DESC == -(running min
    # of -nd); the running max is monotone non-decreasing along the
    # sweep, so each distinct value forms one contiguous run and the
    # frontier point of that run is its first row = max(n_tokens).
    run = with_global_running(
        per_x.withColumn("_neg", (-F.col("nd")).cast("bigint")),
        order_by=[F.col("n_tokens").desc()],
        min_col="_neg", min_name="_rm")
    frontier = (run.groupBy("_rm")
                   .agg(F.max("n_tokens").alias("n_tokens"))
                   .withColumn("n_distinct", (-F.col("_rm")).cast("bigint"))
                   .drop("_rm"))
    return (cnts.join(F.broadcast(frontier), ["n_tokens", "n_distinct"])
                .select("n_tokens", "n_distinct", "n_docs"))


# ---------------------------------------------------------------- #
# Basket association rules                                          #
# ---------------------------------------------------------------- #

@register(
    "basket_association_rules",
    """
    WITH bi AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    nb AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
      FROM bi
    ),
    ic AS (
      SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_item
      FROM bi GROUP BY p_brand
    ),
    pr AS (
      SELECT a.p_brand AS antecedent, b.p_brand AS consequent,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM bi a
      JOIN bi b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    )
    SELECT antecedent, consequent, n_ab,
           (n_ab * 1000000) // ia.n_item AS conf_ab_ppm,
           (n_ab * 1000000) // ib.n_item AS conf_ba_ppm,
           CAST((CAST(n_ab AS HUGEINT) * n_baskets * 1000000)
                // (CAST(ia.n_item AS HUGEINT) * ib.n_item)
                AS BIGINT) AS lift_ppm
    FROM pr
    JOIN ic ia ON ia.p_brand = pr.antecedent
    JOIN ic ib ON ib.p_brand = pr.consequent, nb
    WHERE n_ab * 100 >= n_baskets
    """,
    doc="Brand-pair association rules over order baskets (support >= "
        "1% of baskets): co-occurrence count, both-direction "
        "confidence and lift in exact integer ppm (floor division — "
        "no float ratio in any output). The pair join explodes per "
        "basket (k² pairs for a k-item basket, never corpus²); the "
        "part dimension broadcasts. Overflow contract: with the 1% "
        "support floor n_ab >= n_baskets/100, the bigint lift "
        "numerator n_ab*n_baskets*1e6 >= n_baskets²*1e4 crosses 2^63 "
        "near ~3e7 baskets — far below corpus scale — and Spark's "
        "non-ANSI bigint multiply would wrap SILENTLY while DuckDB "
        "throws. So the lift numerator/denominator route through "
        "DECIMAL(38,0) on Spark (exact to ~1e15 baskets; overflow → "
        "NULL, never a wrong value) and HUGEINT on the oracle (DuckDB's "
        "decimal // is float-backed and off-by-one at quotient "
        "boundaries; int128 is exact), with floor division back to "
        "BIGINT — verified bit-identical between engines.",
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey",
                                                      "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # persist: basket-items feeds FIVE subtrees (pair join a+b, item
    # counts twice, basket total) — one scan+distinct instead of five
    bi = persist(li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
                   .select("l_orderkey", "p_brand").distinct())
    nb = bi.agg(F.countDistinct("l_orderkey").alias("n_baskets"))
    ic = bi.groupBy("p_brand").agg(F.count("*").alias("n_item"))
    a = bi.alias("a")
    b = bi.alias("b")
    pr = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                 & (F.col("a.p_brand") < F.col("b.p_brand")))
           .groupBy(F.col("a.p_brand").alias("antecedent"),
                    F.col("b.p_brand").alias("consequent"))
           .agg(F.count("*").alias("n_ab")))
    ia = ic.select(F.col("p_brand").alias("antecedent"),
                   F.col("n_item").alias("n_a"))
    ib = ic.select(F.col("p_brand").alias("consequent"),
                   F.col("n_item").alias("n_b"))
    return (pr.join(F.broadcast(ia), "antecedent")
              .join(F.broadcast(ib), "consequent")
              .crossJoin(F.broadcast(nb))
              .where(F.col("n_ab") * 100 >= F.col("n_baskets"))
              .select(
                  "antecedent", "consequent", "n_ab",
                  F.expr("(n_ab * 1000000) div n_a").alias("conf_ab_ppm"),
                  F.expr("(n_ab * 1000000) div n_b").alias("conf_ba_ppm"),
                  F.expr("(CAST(n_ab AS DECIMAL(38,0)) * n_baskets * 1000000)"
                         " div (CAST(n_a AS DECIMAL(38,0)) * n_b)")
                   .alias("lift_ppm")))


# ---------------------------------------------------------------- #
# Interval-union coverage (sweep line)                              #
# ---------------------------------------------------------------- #

_IV_US = 30 * 60 * 1_000_000  # each event opens a 30-minute interval


@register(
    "interval_union_coverage",
    f"""
    WITH iv AS (
      SELECT user_id, event_id, ts,
             epoch_us(ts) AS s_us,
             epoch_us(ts) + {_IV_US} AS e_us
      FROM events
    ),
    sw AS (
      SELECT *,
             max(e_us) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS pme
      FROM iv
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN pme IS NULL OR pme <= s_us
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_blocks,
           CAST(SUM(greatest(0, e_us - greatest(s_us, coalesce(pme, s_us))))
                AS BIGINT) AS covered_us
    FROM sw GROUP BY user_id
    """,
    doc="Per-user union length of overlapping 30-minute activity "
        "intervals (sweep line: running max of interval end over a "
        "user-partitioned window; each event contributes only the "
        "part past the running max, so overlaps are never double-"
        "counted) plus the count of disjoint activity blocks. One "
        "shuffle on user_id; all integer microseconds.",
)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_id",
                                                   "ts")
    s_us = F.unix_micros("ts")
    iv = e.withColumn("s_us", s_us).withColumn("e_us", s_us + F.lit(_IV_US))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
               .rowsBetween(Window.unboundedPreceding, -1))
    sw = iv.withColumn("pme", F.max("e_us").over(w))
    new_block = F.when(F.col("pme").isNull()
                       | (F.col("pme") <= F.col("s_us")), 1).otherwise(0)
    covered = F.greatest(
        F.lit(0).cast("bigint"),
        F.col("e_us") - F.greatest(F.col("s_us"),
                                   F.coalesce(F.col("pme"), F.col("s_us"))))
    return (sw.withColumn("nb", new_block).withColumn("cv", covered)
              .groupBy("user_id")
              .agg(F.count("*").alias("n_events"),
                   F.sum("nb").cast("bigint").alias("n_blocks"),
                   F.sum("cv").cast("bigint").alias("covered_us")))


# ---------------------------------------------------------------- #
# SCD2 validity intervals                                           #
# ---------------------------------------------------------------- #

@register(
    "scd2_history_intervals",
    """
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_t
      FROM events
    ),
    c AS (
      SELECT user_id, event_type, ts AS valid_from, event_id
      FROM o WHERE prev_t IS NULL OR prev_t <> event_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, event_id)
             AS valid_to,
           CAST(row_number() OVER (PARTITION BY user_id
                                   ORDER BY valid_from, event_id)
                AS BIGINT) AS version,
           (lead(valid_from) OVER (PARTITION BY user_id
                                   ORDER BY valid_from, event_id))
             IS NULL AS is_current
    FROM c
    """,
    doc="Type-2 SCD history build from the event stream: collapse "
        "consecutive same-type events per user to change points "
        "(lag), then validity intervals [valid_from, valid_to) via "
        "lead, versioned per user, open-ended current row flagged. "
        "One window shuffle on user_id — the batch history twin of "
        "cdc_latest_state.",
)
def scd2_history_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "ts",
                                                   "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_t = F.lag("event_type").over(w)
    changes = (e.withColumn("prev_t", prev_t)
                .where(F.col("prev_t").isNull()
                       | (F.col("prev_t") != F.col("event_type")))
                .select("user_id", "event_type",
                        F.col("ts").alias("valid_from"), "event_id"))
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return (changes
            .withColumn("valid_to", F.lead("valid_from").over(w2))
            .withColumn("version", F.row_number().over(w2).cast("bigint"))
            .withColumn("is_current", F.col("valid_to").isNull())
            .select("user_id", "event_type", "valid_from", "valid_to",
                    "version", "is_current"))


# ---------------------------------------------------------------- #
# Median/MAD robust outlier flags                                   #
# ---------------------------------------------------------------- #

@register(
    "group_mad_outliers",
    """
    WITH v AS (
      SELECT event_type, event_id,
             CAST(CAST(value AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS v_us
      FROM events WHERE value IS NOT NULL
    ),
    n AS (SELECT event_type, COUNT(*) AS n FROM v GROUP BY 1),
    r AS (
      SELECT v.*, row_number() OVER (PARTITION BY event_type
                                     ORDER BY v_us, event_id) AS rn
      FROM v
    ),
    med AS (
      SELECT r.event_type, r.v_us AS med_us
      FROM r JOIN n USING (event_type) WHERE rn = (n + 1) // 2
    ),
    d AS (
      SELECT v.event_type, v.event_id, v.v_us,
             abs(v.v_us - med_us) AS d_us, med_us
      FROM v JOIN med USING (event_type)
    ),
    rd AS (
      SELECT d.*, row_number() OVER (PARTITION BY event_type
                                     ORDER BY d_us, event_id) AS rn
      FROM d
    ),
    mad AS (
      SELECT rd.event_type, rd.d_us AS mad_us
      FROM rd JOIN n USING (event_type) WHERE rn = (n + 1) // 2
    )
    SELECT d.event_type, n.n AS n_events, d.med_us, mad.mad_us,
           CAST(SUM(CASE WHEN d.d_us > 3 * mad.mad_us
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM d
    JOIN mad USING (event_type)
    JOIN n USING (event_type)
    GROUP BY 1, 2, 3, 4
    """,
    doc="Robust per-group outlier flags via median/MAD: both medians "
        "are DISCRETE — the element at row (n+1)//2 under the pinned "
        "total order (value, event_id) — computed with row_number "
        "over group-partitioned windows, so the semantics are "
        "engine-identical by construction (no interpolating median "
        "builtin on either side) and partition-invariant. Values in "
        "exact integer micro-units; outlier = |v - med| > 3*MAD. Two "
        "window shuffles on event_type plus broadcast med/mad joins.",
)
def group_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Histogram formulation of the discrete median: the lower median
    # is the SMALLEST value whose cumulative count reaches (n+1)//2 —
    # identical to the oracle's row_number pick (the event_id tiebreak
    # only orders EQUAL values; the value at the pinned rank is the
    # same), but computed from the (group, value) -> count histogram
    # instead of ranking raw rows. Why: a rank window partitioned by
    # event_type puts each group's ENTIRE row set on one task
    # (measured 15.5x at 100x replicas with 5 groups); the histogram
    # shrinks the windowed relation to |distinct values| per group
    # (quantized data: bounded), the heavy passes become map-side-
    # combinable hash aggs, and raw rows never sort. Same shape as
    # equi_depth_binning's value-consistent quantiles.
    # NULL values are excluded up front: Spark's histogram would
    # otherwise group NULL as a key (and a rank window orders nulls
    # first) while DuckDB's row_number orders nulls last — shifting
    # the discrete median pick. Filtering in BOTH engines makes the
    # median well-defined over the non-null population.
    e = (load_table(spark, sf_dir, "events")
         .select("event_type", "value")
         .where(F.col("value").isNotNull()))
    # persist: the quantized scan feeds the value histogram AND the
    # deviation histogram — one events scan total
    v = persist(e.select(
        "event_type",
        (F.col("value").cast("decimal(38,6)") * 1000000)
        .cast("bigint").alias("v_us")))
    h1 = persist(v.groupBy("event_type", "v_us")
                  .agg(F.count("*").alias("cnt")))
    n = h1.groupBy("event_type").agg(F.sum("cnt").cast("bigint").alias("n"))
    wv = (Window.partitionBy("event_type").orderBy("v_us")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    med = (h1.withColumn("cum", F.sum("cnt").over(wv))
             .join(F.broadcast(n), "event_type")
             .where(F.col("cum") >= F.expr("(n + 1) div 2"))
             .groupBy("event_type")
             .agg(F.min("v_us").alias("med_us")))
    d = (v.join(F.broadcast(med), "event_type")
          .select("event_type", "med_us",
                  F.abs(F.col("v_us") - F.col("med_us")).alias("d_us")))
    h2 = persist(d.groupBy("event_type", "med_us", "d_us")
                  .agg(F.count("*").alias("cnt")))
    wd = (Window.partitionBy("event_type").orderBy("d_us")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    mad = (h2.withColumn("cum", F.sum("cnt").over(wd))
             .join(F.broadcast(n), "event_type")
             .where(F.col("cum") >= F.expr("(n + 1) div 2"))
             .groupBy("event_type")
             .agg(F.min("d_us").alias("mad_us")))
    return (h2.join(F.broadcast(mad), "event_type")
              .join(F.broadcast(n), "event_type")
              .groupBy("event_type",
                       F.col("n").alias("n_events"), "med_us", "mad_us")
              .agg(F.sum(F.when(F.col("d_us") > 3 * F.col("mad_us"),
                                F.col("cnt")).otherwise(0))
                    .cast("bigint").alias("n_outliers")))


# ---------------------------------------------------------------- #
# Largest-remainder (Hamilton) quota allocation                     #
# ---------------------------------------------------------------- #

_QUOTA_BUDGET = 1000


@register(
    "largest_remainder_quota",
    f"""
    WITH c AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot FROM c),
    b AS (
      SELECT source, n_docs,
             (n_docs * {_QUOTA_BUDGET}) // tot AS base,
             (n_docs * {_QUOTA_BUDGET}) % tot AS rem
      FROM c, t
    ),
    l AS (
      SELECT {_QUOTA_BUDGET} - CAST(SUM(base) AS BIGINT) AS leftover
      FROM b
    ),
    r AS (
      SELECT b.*, row_number() OVER (ORDER BY rem DESC, source) AS rk
      FROM b
    )
    SELECT r.source, r.n_docs,
           CAST(r.base + CASE WHEN r.rk <= l.leftover THEN 1 ELSE 0 END
                AS BIGINT) AS quota
    FROM r, l
    """,
    doc="Largest-remainder (Hamilton) apportionment of a fixed "
        f"sampling budget ({_QUOTA_BUDGET} slots) across document "
        "sources: integer floor shares plus remainder-ranked top-up, "
        "so SUM(quota) == budget exactly — the allocation step every "
        "mixture-weighted sampler needs after temperature/mixture "
        "weights are chosen. All int64 arithmetic; the rank runs as a "
        "bounded broadcast self-join on the |sources|-row aggregate "
        "(no global-order window on a data-scale frame).",
)
def largest_remainder_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    t = c.agg(F.sum("n_docs").cast("bigint").alias("tot"))
    b = (c.crossJoin(F.broadcast(t))
          .withColumn("base",
                      F.expr(f"(n_docs * {_QUOTA_BUDGET}) div tot"))
          .withColumn("rem", F.expr(f"(n_docs * {_QUOTA_BUDGET}) % tot")))
    lo = b.agg((F.lit(_QUOTA_BUDGET)
                - F.sum("base").cast("bigint")).alias("leftover"))
    other = b.select(F.col("source").alias("o_source"),
                     F.col("rem").alias("o_rem"))
    ranked = (b.join(F.broadcast(other),
                     (F.col("o_rem") > F.col("rem"))
                     | ((F.col("o_rem") == F.col("rem"))
                        & (F.col("o_source") < F.col("source"))),
                     "left")
               .groupBy("source", "n_docs", "base")
               .agg((F.count("o_source") + 1).alias("rk")))
    return (ranked.crossJoin(F.broadcast(lo))
                  .select("source", "n_docs",
                          (F.col("base")
                           + F.when(F.col("rk") <= F.col("leftover"), 1)
                              .otherwise(0)).cast("bigint").alias("quota")))


# ---------------------------------------------------------------- #
# Nucleus (top-p) per-source selection                              #
# ---------------------------------------------------------------- #

@register(
    "nucleus_topp_docs",
    """
    WITH w AS (
      SELECT source, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum,
             SUM(n_chars) OVER (PARTITION BY source) AS tot
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN (cum - n_chars) * 10 < tot * 9
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total,
           CAST(SUM(CASE WHEN (cum - n_chars) * 10 < tot * 9
                         THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
    FROM w GROUP BY source
    """,
    doc="Nucleus (top-p) selection per source: rank documents by size "
        "(n_chars DESC, doc_id tiebreak) and keep the minimal prefix "
        "reaching >=90% of the source's total mass — a document stays "
        "iff the cumulative mass BEFORE it is under the threshold, "
        "decided by exact integer algebra ((cum-x)*10 < tot*9, never "
        "a float share). Per-source partitioned running sum — "
        "parallel across sources, one shuffle.",
)
def nucleus_topp_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id",
                                                         "n_chars")
    wc = (Window.partitionBy("source")
                .orderBy(F.desc("n_chars"), "doc_id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wt = Window.partitionBy("source")
    d = (docs.withColumn("cum", F.sum("n_chars").over(wc))
             .withColumn("tot", F.sum("n_chars").over(wt)))
    keep = (F.col("cum") - F.col("n_chars")) * 10 < F.col("tot") * 9
    return (d.groupBy("source")
             .agg(F.count("*").alias("n_docs"),
                  F.sum(F.when(keep, 1).otherwise(0))
                   .cast("bigint").alias("n_kept"),
                  F.sum("n_chars").cast("bigint").alias("chars_total"),
                  F.sum(F.when(keep, F.col("n_chars")).otherwise(0))
                   .cast("bigint").alias("chars_kept")))


# ---------------------------------------------------------------- #
# Time-decayed aggregation (power-of-two EWMA)                      #
# ---------------------------------------------------------------- #

_DECAY_CAP = 62  # int64 shift limit; weight is 0 past ~2^-62 anyway


@register(
    "time_decay_user_value",
    f"""
    WITH v AS (
      SELECT user_id, ts::DATE AS d,
             CAST(CAST(value AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS v_us
      FROM events
    ),
    m AS (SELECT user_id, max(d) AS max_d FROM v GROUP BY user_id)
    SELECT v.user_id,
           COUNT(*) AS n_events,
           CAST(SUM(v_us // (CAST(1 AS BIGINT) <<
                    least(datediff('day', d, max_d), {_DECAY_CAP})))
                AS BIGINT) AS decayed_us,
           CAST(SUM(v_us) AS BIGINT) AS total_us
    FROM v JOIN m USING (user_id)
    GROUP BY v.user_id
    """,
    doc="Per-user time-decayed value: each event's contribution is "
        "halved per day of age relative to the user's latest event "
        "(weight 2^-age). Exact integer arithmetic — the decay is a "
        "floor division by a shifted power of two, never a float pow "
        "— so the recency-weighted engagement score is bit-portable "
        "and partition-invariant. One shuffle on user_id (partitioned "
        "max + the same grouped sum).",
)
def time_decay_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    v = e.select(
        "user_id", F.col("ts").cast("date").alias("d"),
        (F.col("value").cast("decimal(38,6)") * 1000000)
        .cast("bigint").alias("v_us"))
    w = Window.partitionBy("user_id")
    d = (v.withColumn("max_d", F.max("d").over(w))
          .withColumn("age", F.least(F.datediff("max_d", "d"),
                                     F.lit(_DECAY_CAP))))
    return (d.groupBy("user_id")
             .agg(F.count("*").alias("n_events"),
                  F.sum(F.expr("v_us div shiftleft(cast(1 as bigint), age)"))
                   .cast("bigint").alias("decayed_us"),
                  F.sum("v_us").cast("bigint").alias("total_us")))


# ---------------------------------------------------------------- #
# Consistent-hash rebalance audit                                   #
# ---------------------------------------------------------------- #

# Ring node positions: h32('node:<i>') for i in 0..16, precomputed
# with the same md5-prefix hash both engines use (operators/hashing.
# h32 == ('0x'||substr(md5(x),1,15))::BIGINT % 2^32) so the constants
# are reproducible from the expression in either engine.
_RING_M = 4294967296
_RING_NODES = [821854523, 3701303721, 2044611840, 1023019207, 1107978788,
               2596918094, 3136852460, 1677622040, 1949725523, 790881153,
               403968390, 2444461890, 1936712069, 1172840435, 1853956217,
               1309735632, 3124818639]  # index 16 = the node being added


def _ring_assign_sql(h: str, n_nodes: int) -> str:
    """Owner node id for hash ``h`` on the ring: the node minimizing
    clockwise distance (pos - h) mod 2^32, ties by node id — encoded
    as min(dist * 32 + id) % 32 (single integer min, no argmin)."""
    keys = ", ".join(
        f"((({p} - {h}) % {_RING_M} + {_RING_M}) % {_RING_M}) * 32 + {i}"
        for i, p in enumerate(_RING_NODES[:n_nodes]))
    return f"(list_aggregate([{keys}], 'min') % 32)"


def _ring_assign_spark(h, n_nodes: int):
    keys = [
        (((F.lit(p) - h) % _RING_M + _RING_M) % _RING_M) * 32 + F.lit(i)
        for i, p in enumerate(_RING_NODES[:n_nodes])
    ]
    return F.array_min(F.array(*keys)) % 32


@register(
    "consistent_hash_rebalance",
    f"""
    WITH h AS (
      SELECT {_h32_sql("'d:' || doc_id::VARCHAR")} AS hd FROM documents
    ),
    a AS (
      SELECT hd % 16 AS mod_old, hd % 17 AS mod_new,
             {_ring_assign_sql('hd', 16)} AS ring_old,
             {_ring_assign_sql('hd', 17)} AS ring_new
      FROM h
    ),
    s AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN mod_old <> mod_new THEN 1 ELSE 0 END)
                  AS BIGINT) AS mod_moved,
             CAST(SUM(CASE WHEN ring_old <> ring_new THEN 1 ELSE 0 END)
                  AS BIGINT) AS ring_moved
      FROM a
    )
    SELECT 'mod' AS scheme, n_docs, mod_moved AS n_moved,
           (mod_moved * 1000000) // n_docs AS moved_ppm
    FROM s
    UNION ALL
    SELECT 'ring', n_docs, ring_moved,
           (ring_moved * 1000000) // n_docs
    FROM s
    """,
    doc="Resharding-cost audit for growing 16 -> 17 shards: under "
        "hash-mod placement ~16/17 of all documents move; under a "
        "consistent-hash ring only the arc claimed by the new node "
        "moves (~1/17 expected). Owner lookup is a 16/17-element "
        "integer min over precomputed md5 ring positions — scan-local "
        "arithmetic, one global count, no joins. The audit a 100 TB "
        "store runs BEFORE committing to a shard-count change.",
)
def consistent_hash_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.hashing import h32
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hd = h32(F.concat(F.lit("d:"), F.col("doc_id").cast("string")))
    a = docs.select(
        (hd % 16).alias("mod_old"), (hd % 17).alias("mod_new"),
        _ring_assign_spark(hd, 16).alias("ring_old"),
        _ring_assign_spark(hd, 17).alias("ring_new"))
    s = a.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("mod_old") != F.col("mod_new"), 1).otherwise(0))
         .cast("bigint").alias("mod_moved"),
        F.sum(F.when(F.col("ring_old") != F.col("ring_new"), 1).otherwise(0))
         .cast("bigint").alias("ring_moved"))
    mod_row = s.select(
        F.lit("mod").alias("scheme"), "n_docs",
        F.col("mod_moved").alias("n_moved"),
        F.expr("(mod_moved * 1000000) div n_docs").alias("moved_ppm"))
    ring_row = s.select(
        F.lit("ring").alias("scheme"), "n_docs",
        F.col("ring_moved").alias("n_moved"),
        F.expr("(ring_moved * 1000000) div n_docs").alias("moved_ppm"))
    return mod_row.unionAll(ring_row)


# ---------------------------------------------------------------- #
# Cross-source shingle-overlap (contamination) matrix               #
# ---------------------------------------------------------------- #

_OVL_MAX_DF = 8  # global doc-frequency cap: boilerplate shingles out


@register(
    "source_ngram_overlap_matrix",
    f"""
    WITH t AS (
      SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents
    ),
    b AS (SELECT doc_id, source, toks FROM t WHERE len(toks) >= 3),
    e AS (
      SELECT doc_id, source,
             unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                                   for i in range(1, len(toks) - 1)])) AS sgl
      FROM b
    ),
    hh AS (
      SELECT DISTINCT doc_id, source,
             (('0x' || substr(md5(sgl), 1, 15))::BIGINT % 4294967296) AS h
      FROM e
    ),
    rare AS (
      SELECT h FROM hh GROUP BY h
      HAVING COUNT(DISTINCT doc_id) <= {_OVL_MAX_DF}
    ),
    ss AS (SELECT DISTINCT source, h FROM hh JOIN rare USING (h)),
    ns AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh
      FROM ss GROUP BY source
    ),
    pr AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM ss a JOIN ss b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared,
           (n_shared * 1000000) // (na.n_sh + nb.n_sh - n_shared)
             AS jaccard_ppm
    FROM pr
    JOIN ns na ON na.source = source_a
    JOIN ns nb ON nb.source = source_b
    """,
    doc="Pairwise source-contamination matrix: distinct word-3-gram "
        "shingle sets per source (global doc-frequency capped at "
        f"{_OVL_MAX_DF} so boilerplate shingles cannot explode the "
        "hash join), intersected by an 8-byte-hash equi-join, Jaccard "
        "in integer ppm. The cross-SOURCE generalization of the "
        "train-vs-eval decontamination_overlap check — which corpora "
        "leak into each other, measured before mixing weights are "
        "chosen. Shuffle rides (source, hash) pairs only; text never "
        "moves.",
)
def source_ngram_overlap_matrix(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from ..functions.text import word_ngrams
    from ..operators.hashing import h32
    from ..functions.core import rebalance
    docs = load_table(spark, sf_dir, "documents")
    # no tokenizing pre-filter + rebalance first (the r9 change-1
    # pattern, missed here because warm medians hid it): sub-3-token
    # docs explode to ZERO rows anyway, so the size(word_tokens(...))
    # predicate was inert — but it pushed below any exchange into the
    # 1-2-task byte-split scan stage and serialized a full regex
    # tokenize of the corpus; the shingle+md5 projection then also ran
    # serial because nothing widened the scan. One cheap shuffle of
    # (doc_id, source, text) buys full-width compute (measured 8.5 s →
    # ~2 s cold at sf0.1).
    base = (rebalance(docs.select("doc_id", "source", "text"))
                .select("doc_id", "source",
                        F.explode(F.array_distinct(
                            word_ngrams(F.col("text"), 3))).alias("sgl")))
    # persist: the hashed-shingle table is the tokenize/explode pass —
    # it feeds the df histogram AND the capped join; ss feeds the pair
    # join twice plus the per-source totals. Without the barriers the
    # corpus is re-shingled four times.
    hh = persist(base.select("doc_id", "source", h32(F.col("sgl")).alias("h"))
                     .distinct())
    rare = (hh.groupBy("h")
              .agg(F.countDistinct("doc_id").alias("df"))
              .where(F.col("df") <= _OVL_MAX_DF)
              .select("h"))
    ss = persist(hh.join(rare, "h").select("source", "h").distinct())
    ns = ss.groupBy("source").agg(F.count("*").alias("n_sh"))
    a = ss.alias("a")
    b = ss.alias("b")
    pr = (a.join(b, (F.col("a.h") == F.col("b.h"))
                 & (F.col("a.source") < F.col("b.source")))
           .groupBy(F.col("a.source").alias("source_a"),
                    F.col("b.source").alias("source_b"))
           .agg(F.count("*").alias("n_shared")))
    na = ns.select(F.col("source").alias("source_a"),
                   F.col("n_sh").alias("n_a"))
    nb = ns.select(F.col("source").alias("source_b"),
                   F.col("n_sh").alias("n_b"))
    return (pr.join(F.broadcast(na), "source_a")
              .join(F.broadcast(nb), "source_b")
              .select("source_a", "source_b", "n_shared",
                      F.expr("(n_shared * 1000000) div "
                             "(n_a + n_b - n_shared)").alias("jaccard_ppm")))


# ---------------------------------------------------------------- #
# Systematic PPS (probability-proportional-to-size) sample          #
# ---------------------------------------------------------------- #

_PPS_K = 100


@register(
    "systematic_pps_sample",
    f"""
    WITH w AS (
      SELECT source, doc_id, n_chars,
             SUM(n_chars) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum,
             SUM(n_chars) OVER () AS tot
      FROM documents
    ),
    p AS (
      SELECT source, n_chars, cum,
             GREATEST(tot // {_PPS_K}, 1) AS stride,
             GREATEST(tot // {_PPS_K}, 1) // 2 AS u
      FROM w
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN
                  (cum - 1 - u + stride) // stride
                    > (cum - n_chars - 1 - u + stride) // stride
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
           CAST(SUM(CASE WHEN
                  (cum - 1 - u + stride) // stride
                    > (cum - n_chars - 1 - u + stride) // stride
                  THEN n_chars ELSE 0 END) AS BIGINT) AS chars_selected
    FROM p GROUP BY source
    """,
    doc="Systematic probability-proportional-to-size sampling: lay "
        f"documents on the cumulative-size axis (global prefix sum "
        "over doc_id order — the distributed two-pass shape, no "
        "single-partition window) and select every doc whose size "
        f"interval contains one of {_PPS_K} equally-spaced anchors "
        "(deterministic offset = stride/2). Inclusion probability is "
        "proportional to size with zero randomness — membership is "
        "pure integer floor-division algebra (operands kept "
        "non-negative so trunc == floor on both engines). Reported "
        "as per-source selection counts — the PPS twin of "
        "quality_weighted_sample.",
)
def systematic_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id",
                                                         "n_chars")
    run = with_global_running(docs, order_by=[F.col("doc_id")],
                              sum_col="n_chars", cum_name="cum",
                              totals=True)
    # greatest(...,1): when total corpus chars < _PPS_K the stride
    # floors to 0 — Spark div-by-zero returns NULL (rows silently
    # unselected) while DuckDB errors; clamping to 1 keeps both
    # engines defined and identical on tiny inputs (stride 1 selects
    # every doc, the correct degenerate census)
    p = (run.withColumn("stride",
                        F.expr(f"greatest(_sum_total div {_PPS_K}, 1)"))
            .withColumn("u", F.expr("stride div 2")))
    sel = (F.expr("(cum - 1 - u + stride) div stride")
           > F.expr("(cum - n_chars - 1 - u + stride) div stride"))
    return (p.groupBy("source")
             .agg(F.count("*").alias("n_docs"),
                  F.sum(F.when(sel, 1).otherwise(0))
                   .cast("bigint").alias("n_selected"),
                  F.sum(F.when(sel, F.col("n_chars")).otherwise(0))
                   .cast("bigint").alias("chars_selected")))


# ---------------------------------------------------------------- #
# Classifier score-decile lift (calibration-by-rank)                #
# ---------------------------------------------------------------- #

def _score_decile_oracle() -> str:
    from .curation_wave6 import _classifier_score_ctes
    return f"""{_classifier_score_ctes()},
    ranked AS (
      SELECT lab.doc_id, lab.label_high,
             COALESCE(sc.score, 0::HUGEINT) AS score
      FROM lab LEFT JOIN sc USING (doc_id)
    ),
    r2 AS (
      SELECT label_high,
             row_number() OVER (ORDER BY score, doc_id) AS rk,
             COUNT(*) OVER () AS n
      FROM ranked
    )
    SELECT CAST((rk - 1) * 10 // n AS BIGINT) AS decile,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN label_high THEN 1 ELSE 0 END) AS BIGINT)
             AS n_high,
           (CAST(SUM(CASE WHEN label_high THEN 1 ELSE 0 END) AS BIGINT)
              * 1000000) // COUNT(*) AS high_rate_ppm
    FROM r2 GROUP BY 1
    """


@register(
    "score_decile_lift",
    None,  # oracle patched below (shares the wave-6 classifier CTEs)
    doc="Lift/calibration table for the distilled quality classifier "
        "(quality_classifier_scores' model): documents ranked by raw "
        "score (exact DECIMAL(38,0) integers, rank computed with the "
        "distributed two-pass prefix — no single-partition window), "
        "cut into 10 equal-population rank deciles, each reporting "
        "its positive-label count and rate in integer ppm. A working "
        "classifier shows monotone rates across deciles — the "
        "evaluation every score-thresholded data-selection pipeline "
        "runs before trusting a cutoff. The hugeint score itself "
        "never leaves the plan (portability policy); only deciles, "
        "counts, and ppm rates are output.",
)
def score_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import quality_score
    from ..operators.classifier import classify_docs

    d = load_table(spark, sf_dir, "documents")
    labeled = d.withColumn("label_high",
                           quality_score(F.col("text")) >= 0.5)
    scored = classify_docs(labeled, "label_high") \
        .select("doc_id", "label_high", "score")
    run = with_global_running(scored,
                              order_by=[F.col("score"), F.col("doc_id")],
                              rank="rk", totals=True)
    dec = run.withColumn("decile",
                         F.expr("((rk - 1) * 10) div _n_total"))
    return (dec.groupBy("decile")
               .agg(F.count("*").alias("n_docs"),
                    F.sum(F.when(F.col("label_high"), 1).otherwise(0))
                     .cast("bigint").alias("n_high"))
               .select("decile", "n_docs", "n_high",
                       F.expr("(n_high * 1000000) div n_docs")
                        .alias("high_rate_ppm")))


def _patch_score_decile_oracle() -> None:
    import dataclasses

    from . import REGISTRY
    spec = REGISTRY["score_decile_lift"]
    if spec.oracle is None:
        REGISTRY["score_decile_lift"] = dataclasses.replace(
            spec, oracle=_score_decile_oracle())


_patch_score_decile_oracle()


# ---------------------------------------------------------------- #
# Duplicate-aware effective dataset size                            #
# ---------------------------------------------------------------- #

@register(
    "dedup_effective_size",
    """
    WITH c AS (SELECT source, md5(text) AS h FROM documents),
    m AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS m FROM c GROUP BY h)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           CAST(SUM(1000000 // m) AS BIGINT) AS eff_docs_ppm
    FROM c JOIN m USING (h)
    GROUP BY source
    """,
    doc="Duplicate-aware effective dataset size per source: each "
        "document weighted 1/multiplicity of its exact text cluster "
        "(the soft alternative to hard dedup — repeated text "
        "contributes one document's worth of training signal in "
        "total, split across copies), reported as an exact integer "
        "ppm sum plus the unique-document count. The weighting every "
        "epoch-sampler applies when dedup is done by downweighting "
        "rather than dropping. Shuffle rides (source, 16-byte hash); "
        "text never moves — the dedup_exact contract.",
)
def dedup_effective_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents") \
        .select("source", F.md5("text").alias("h"))
    m = docs.groupBy("h").agg(F.count("*").cast("bigint").alias("m"))
    return (docs.join(m, "h")
                .groupBy("source")
                .agg(F.count("*").alias("n_docs"),
                     F.sum(F.when(F.col("m") == 1, 1).otherwise(0))
                      .cast("bigint").alias("n_unique"),
                     F.sum(F.expr("1000000 div m"))
                      .cast("bigint").alias("eff_docs_ppm")))


# ---------------------------------------------------------------- #
# Per-node clustering coefficient (co-purchase graph)               #
# ---------------------------------------------------------------- #

@register(
    "copurchase_clustering_coeff",
    """
    WITH inst AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    cop AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n
      FROM inst a JOIN inst b ON a.l_orderkey = b.l_orderkey
       AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    edges AS (SELECT p1 AS a, p2 AS b FROM cop WHERE n >= 2),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS node FROM edges UNION ALL SELECT b FROM edges
      ) GROUP BY node
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.a AND e2.b > e1.b
      JOIN edges e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    tpn AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY node
    )
    SELECT deg.node, deg.d AS degree,
           COALESCE(tpn.n_tri, 0) AS n_tri,
           CASE WHEN deg.d >= 2
                THEN (2 * COALESCE(tpn.n_tri, 0) * 1000000)
                       // (deg.d * (deg.d - 1))
                ELSE 0 END AS coeff_ppm
    FROM deg LEFT JOIN tpn USING (node)
    """,
    doc="Local (per-node) clustering coefficient over the part "
        "co-purchase graph: 2*T(v) / (d(v)*(d(v)-1)) in exact integer "
        "ppm, with T(v) from operators/graph.py::triangles_per_node — "
        "the same degree-ordered orientation as the global census "
        "(each triangle enumerated once, out-degrees O(sqrt(m)) even "
        "on skew), then each triangle credits its three corners. The "
        "node-level feature community detection and recommender "
        "neighborhoods consume; the oracle enumerates id-ordered "
        "triangles declaratively — different strategy, same census.",
)
def copurchase_clustering_coeff(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from ..operators.graph import triangles_per_node
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey").distinct())
    b = li.select(F.col("l_orderkey").alias("_ok"),
                  F.col("l_partkey").alias("p2"))
    cop = (li.join(b, (F.col("l_orderkey") == F.col("_ok"))
                   & (F.col("l_partkey") < F.col("p2")))
             .groupBy(F.col("l_partkey").alias("p1"), "p2")
             .agg(F.count("*").alias("n")))
    edges = cop.filter(F.col("n") >= 2).select("p1", "p2")
    pn = triangles_per_node(edges, a="p1", b="p2")
    return pn.select(
        "node", F.col("d").alias("degree"), "n_tri",
        F.when(F.col("d") >= 2,
               F.expr("(2 * n_tri * 1000000) div (d * (d - 1))"))
         .otherwise(F.lit(0).cast("bigint")).alias("coeff_ppm"))
