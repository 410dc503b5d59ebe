"""Sessionization, IVF-style ANN, and exact percentiles.

Sessionization runs twice under the oracle gate: once via Spark's
native ``session_window`` (gap-merge) and once via the classic
lag/cumsum formulation — for *point* events the two are provably the
same partitioning (a session breaks exactly when the gap to the
previous event exceeds the threshold), so one DuckDB oracle
(lag/cumsum, the only form ANSI SQL can express) checks both.

IVF: a training-free coarse quantizer — a fixed set of corpus vectors
acts as centroids, every vector is assigned to its max-cosine
centroid (deterministic tie-break), queries probe their own cell.
This is the other standard ANN layout next to hyperplane-LSH
(ann_lsh_topk); at 100 TB the cell id becomes the partition key so a
probe touches one partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cache import persist
from ..sources.registry import load_table
from . import register
from .relational import dsum, _osum

SESSION_GAP_MIN = 30

_SESSION_ORACLE = f"""
    WITH e AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > {SESSION_GAP_MIN} * 60 * 1000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM e
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           COUNT(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           {_osum('value')} AS total_value
    FROM s GROUP BY user_id, session_idx
"""


@register(
    "sessionize_events",
    _SESSION_ORACLE,
    doc="Gap-based sessionization (lag + cumulative new-session flags): "
        "one window shuffle on user_id, then a hash-agg on "
        "(user, session). The streaming twin is session_window/"
        "applyInPandasWithState in streaming/.",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    new_sess = F.when(
        F.lag("ts").over(w).isNull()
        | ((F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))) > gap_us),
        1).otherwise(0)
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id") \
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = e.withColumn("new_sess", new_sess) \
         .withColumn("session_idx", F.sum("new_sess").over(cum).cast("bigint"))
    return s.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dsum("value").alias("total_value"),
    )


@register(
    "session_window_native",
    f"""
    WITH base AS ({_SESSION_ORACLE})
    SELECT user_id, n_events, session_start,
           session_end + INTERVAL {SESSION_GAP_MIN} MINUTE AS window_end,
           total_value
    FROM base
    """,
    doc="Spark-native session_window (gap-merge aggregation). For "
        "point events this partitions identically to the lag/cumsum "
        "form; window_end = last event + gap by definition, which is "
        "what the oracle reconstructs.",
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (e.groupBy("user_id",
                      F.session_window("ts", f"{SESSION_GAP_MIN} minutes"))
             .agg(F.count("*").alias("n_events"),
                  F.min("ts").alias("session_start"),
                  dsum("value").alias("total_value"))
             .select("user_id", "n_events", "session_start",
                     F.col("session_window.end").alias("window_end"),
                     "total_value"))


_IVF_CENTROID_IDS = tuple(range(0, 320, 20))  # 16 fixed corpus vectors


def _ivf_assign_sql() -> str:
    """Oracle: cell = argmax-cosine centroid (tie → lowest centroid id)."""
    ids = ", ".join(str(i) for i in _IVF_CENTROID_IDS)
    return f"""
    cent AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id IN ({ids})),
    scored AS (
      SELECT e.vec_id, e.embedding, c.c_id,
             list_sum(list_transform(list_zip(e.embedding::DOUBLE[], c.cv),
                                     p -> p[1] * p[2]))
               / (sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in e.embedding]))
                  * sqrt(list_sum([x * x for x in c.cv]))) AS sim
      FROM embeddings e CROSS JOIN cent c
    ),
    assigned AS (
      SELECT vec_id, embedding, c_id, sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, c_id) AS rn
      FROM scored
    )"""


@register(
    "ann_ivf_cells",
    f"""
    WITH {_ivf_assign_sql()}
    SELECT c_id AS cell, COUNT(*) AS n_vectors
    FROM assigned WHERE rn = 1 GROUP BY c_id
    """,
    doc="IVF coarse quantization: assign every vector to its "
        "max-cosine centroid (16 fixed corpus vectors as a "
        "training-free codebook). The cell histogram is the load-"
        "balance diagnostic an IVF index needs before choosing nlist.",
)
def ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = _ivf_assign(spark, sf_dir)
    return assigned.groupBy(F.col("c_id").alias("cell")).agg(
        F.count("*").alias("n_vectors"))


def _ivf_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (vector, centroid) pair with the centroid's cosine rank
    for that vector: rn=1 is the cell assignment, rn<=p is the
    nprobe=p probe list. Shared by the assignment path and the
    recall audit."""
    from pyspark.sql.window import Window
    from ..functions.vectors import vec_dot, vec_norm
    e = load_table(spark, sf_dir, "embeddings")
    cent = (e.filter(F.col("vec_id").isin(*_IVF_CENTROID_IDS))
             .select(F.col("vec_id").alias("c_id"),
                     F.col("embedding").alias("cv"),
                     vec_norm(F.col("embedding")).alias("cnrm")))
    # rebalance: the byte-tiny embeddings scan plans 1-2 partitions,
    # and the 16-centroid scoring below is CPU-bound per row — spread
    # to cluster width before the crossJoin (same rationale and
    # measured effect as _normed_vectors)
    from ..functions.core import rebalance
    scored = (rebalance(e)
                .select("vec_id", "embedding",
                        vec_norm(F.col("embedding")).alias("nrm"))
                .crossJoin(F.broadcast(cent))
                .withColumn("sim",
                            vec_dot(F.col("embedding"), F.col("cv"))
                            / (F.col("nrm") * F.col("cnrm"))))
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("c_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
                  .select("vec_id", "embedding", "c_id", "rn"))


def _ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_ivf_scored(spark, sf_dir)
            .filter(F.col("rn") == 1)
            .select("vec_id", "embedding", "c_id"))


@register(
    "ann_ivf_topk",
    f"""
    WITH {_ivf_assign_sql()},
    cells AS (SELECT vec_id, embedding, c_id FROM assigned WHERE rn = 1),
    q AS (SELECT vec_id AS q_id, embedding AS qv, c_id AS q_cell
          FROM cells WHERE vec_id < 10),
    sims AS (
      SELECT q.q_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(q.qv::DOUBLE[], c.embedding::DOUBLE[]),
                                     p -> p[1] * p[2]))
               / (sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in q.qv]))
                  * sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in c.embedding]))) AS cosine
      FROM q JOIN cells c ON c.c_id = q.q_cell AND c.vec_id <> q.q_id
    )
    SELECT q_id, neighbor_id, rank, round(cosine, 6) AS cosine
    FROM (SELECT q_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cosine DESC, neighbor_id) AS rank
          FROM sims)
    WHERE rank <= 3
    """,
    doc="IVF probe: top-k within the query's own cell (nprobe=1). "
        "Complements hyperplane-LSH: data-adaptive cells vs oblivious "
        "hyperplanes. At 100 TB the corpus is partitioned by cell, so "
        "one probe = one partition read.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    from ..functions.vectors import vec_dot, vec_norm
    cells = persist(_ivf_assign(spark, sf_dir)
                    .withColumn("nrm", vec_norm(F.col("embedding"))))
    q = (cells.filter(F.col("vec_id") < 10)
              .select(F.col("vec_id").alias("q_id"),
                      F.col("embedding").alias("qv"),
                      F.col("c_id").alias("q_cell"),
                      F.col("nrm").alias("qnrm")))
    sims = (cells.join(F.broadcast(q), (F.col("c_id") == F.col("q_cell"))
                       & (F.col("vec_id") != F.col("q_id")))
                 .select("q_id", F.col("vec_id").alias("neighbor_id"),
                         (vec_dot(F.col("qv"), F.col("embedding"))
                          / (F.col("qnrm") * F.col("nrm"))).alias("cosine")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (sims.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= 3)
                .select("q_id", "neighbor_id", "rank",
                        F.round("cosine", 6).alias("cosine")))


def _ivf_recall_sql() -> str:
    from .llm_ext import _cosine_sql
    return f"""
    WITH {_ivf_assign_sql()},
    cells AS (SELECT vec_id, c_id FROM assigned WHERE rn = 1),
    probes AS (SELECT vec_id AS q_id, c_id, rn AS probe_rank
               FROM assigned WHERE vec_id < 10),
    q AS (SELECT vec_id AS q_id, embedding AS qv
          FROM embeddings WHERE vec_id < 10),
    sims AS (
      SELECT q.q_id, e.vec_id AS neighbor_id,
             {_cosine_sql('q.qv', 'e.embedding')} AS cosine
      FROM q JOIN embeddings e ON e.vec_id <> q.q_id
    ),
    truth AS (
      SELECT q_id, neighbor_id
      FROM (SELECT q_id, neighbor_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cosine DESC, neighbor_id)
                     AS rank
            FROM sims)
      WHERE rank <= 10
    ),
    marked AS (
      SELECT t.q_id, t.neighbor_id, p.probe_rank
      FROM truth t
      JOIN cells c ON c.vec_id = t.neighbor_id
      JOIN probes p ON p.q_id = t.q_id AND p.c_id = c.c_id
    ),
    lvl AS (SELECT g.i::INT AS nprobe
            FROM (SELECT unnest(range(1, 17)) AS i) g)
    SELECT l.nprobe,
           COUNT(*)::BIGINT AS n_true,
           CAST(SUM(CASE WHEN m.probe_rank <= l.nprobe
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
           CAST(SUM(CASE WHEN m.probe_rank <= l.nprobe
                         THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
             / COUNT(*)::DOUBLE AS recall
    FROM lvl l CROSS JOIN marked m
    GROUP BY l.nprobe
    """


@register(
    "ivf_recall_audit",
    None,  # oracle patched below (built by a helper)
    doc="IVF candidate-recall audit — the trust gate before running "
        "the IVF serving stack (ann_ivf_topk / ann_ivfpq_topk / "
        "ann_ivfpq_rerank_topk / the on-disk ann_ivf_index_probe, all "
        "of which share this cell assignment) at 100 TB: exact brute-"
        "force cosine top-10 as ground truth, and for every nprobe in "
        "1..nlist the fraction of true neighbors whose cell is among "
        "the query's nprobe nearest centroids. probe_rank is computed "
        "once from the same corpus-x-centroid scoring the assignment "
        "uses, so a true neighbor is 'caught' at level p iff "
        "probe_rank <= p — the audit is a pair-key hash join plus a "
        "16-way conditional aggregate, linear in corpus size (the "
        "truth join is the only quadratic piece and it reuses the "
        "brute-force baseline's broadcast plan). Built-in sanity: "
        "recall at nprobe = nlist must be exactly 1.0. "
        "tests/test_ivf_index.py pins the recall floor.",
)
def ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import brute_force_topk
    e = load_table(spark, sf_dir, "embeddings")
    q = (e.filter(F.col("vec_id") < 10)
          .select(F.col("vec_id").alias("q_id"), "embedding"))
    truth = brute_force_topk(e, q, k=10).select("q_id", "neighbor_id")
    scored = persist(_ivf_scored(spark, sf_dir)
                     .select("vec_id", "c_id", "rn"))
    cells = (scored.filter(F.col("rn") == 1)
                   .select(F.col("vec_id").alias("n_id"),
                           F.col("c_id").alias("n_cell")))
    probes = (scored.filter(F.col("vec_id") < 10)
                    .select(F.col("vec_id").alias("q_id"),
                            F.col("c_id").alias("p_cell"),
                            F.col("rn").alias("probe_rank")))
    marked = (truth.join(cells, truth["neighbor_id"] == cells["n_id"])
                   .join(F.broadcast(probes),
                         (truth["q_id"] == probes["q_id"])
                         & (F.col("n_cell") == F.col("p_cell")))
                   .select(truth["q_id"], "neighbor_id", "probe_rank"))
    # 16-level fan-out via explode (not a cartesian join): each truth
    # row contributes one caught/missed observation per probe depth
    lvl = marked.select("probe_rank",
                        F.explode(F.sequence(F.lit(1), F.lit(16)))
                         .alias("nprobe"))
    return (lvl.groupBy("nprobe")
               .agg(F.count("*").cast("bigint").alias("n_true"),
                    F.sum(F.when(F.col("probe_rank") <= F.col("nprobe"), 1)
                           .otherwise(0)).cast("bigint").alias("n_caught"))
               .select("nprobe", "n_true", "n_caught",
                       (F.col("n_caught").cast("double")
                        / F.col("n_true").cast("double")).alias("recall")))


from . import QuerySpec as _QS1  # noqa: E402
from . import REGISTRY as _REG1  # noqa: E402
_REG1["ivf_recall_audit"] = _QS1(
    fn=_REG1["ivf_recall_audit"].fn, oracle=_ivf_recall_sql(),
    doc=_REG1["ivf_recall_audit"].doc)


@register(
    "quantity_percentiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS p50,
           quantile_cont(l_quantity, 0.9) AS p90,
           quantile_cont(l_quantity, 0.99) AS p99,
           CAST(max(l_quantity) AS DOUBLE) AS p100
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact interpolated percentiles per group (Spark `percentile`"
        " == SQL quantile_cont: both linear-interpolate the sorted "
        "values). Exact percentile is a sort-based aggregate — at "
        "100 TB prefer approx_percentile (t-digest) and accept the "
        "error bound; this query is the exactness baseline.",
)
def quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("p50"),
        F.percentile("l_quantity", 0.9).alias("p90"),
        F.percentile("l_quantity", 0.99).alias("p99"),
        F.max("l_quantity").cast("double").alias("p100"),
    )


_FUNNEL_STEPS = ("view", "click", "purchase")

_FUNNEL_ORACLE = """
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    ),
    depth AS (
      SELECT user_id,
             CASE WHEN t_view IS NULL THEN 0
                  WHEN t_click IS NULL OR t_click <= t_view THEN 1
                  WHEN t_purchase IS NULL OR t_purchase <= t_click THEN 2
                  ELSE 3 END AS funnel_depth
      FROM firsts
    )
    SELECT funnel_depth, COUNT(*) AS n_users
    FROM depth GROUP BY funnel_depth
"""


@register(
    "event_funnel",
    _FUNNEL_ORACLE,
    doc="Ordered-funnel depth (view -> click -> purchase, each step "
        "strictly after the previous step's FIRST occurrence): one "
        "conditional-min aggregate per user, then a depth projection — "
        "a single shuffle on user_id, no joins, no window sort. The "
        "standard sequence-analytics shape that MATCH_RECOGNIZE "
        "engines special-case, expressed in plain aggregates.",
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(*[
        F.min(F.when(F.col("event_type") == s, F.col("ts")))
         .alias(f"t_{s}") for s in _FUNNEL_STEPS])
    depth = F.when(F.col("t_view").isNull(), 0) \
             .when(F.col("t_click").isNull()
                   | (F.col("t_click") <= F.col("t_view")), 1) \
             .when(F.col("t_purchase").isNull()
                   | (F.col("t_purchase") <= F.col("t_click")), 2) \
             .otherwise(3)
    return (firsts.select("user_id", depth.alias("funnel_depth"))
                  .groupBy("funnel_depth")
                  .agg(F.count("*").alias("n_users")))


@register(
    "cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, date_trunc('month', min(ts))::DATE AS cohort_month
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_month,
             date_trunc('month', e.ts)::DATE AS active_month
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_month, active_month, COUNT(*) AS n_active_users
    FROM activity GROUP BY cohort_month, active_month
    """,
    doc="Cohort retention matrix: users bucketed by first-activity "
        "month, counted per subsequent active month. Two aggregations "
        "on user_id-clustered data plus one broadcastable join of the "
        "per-user cohort table back onto events — the behavioral-"
        "analytics companion to sessionization and funnels.",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("month", F.min("ts")).cast("date")
         .alias("cohort_month"))
    activity = (e.join(F.broadcast(firsts), "user_id")
                 .select("user_id", "cohort_month",
                         F.date_trunc("month", F.col("ts"))
                          .cast("date").alias("active_month"))
                 .distinct())
    return activity.groupBy("cohort_month", "active_month").agg(
        F.count("*").alias("n_active_users"))


@register(
    "label_centroids",
    """
    SELECT label, i - 1 AS dim,
           CAST(SUM(CAST(floor(embedding[i]::DOUBLE * 1000000 + 0.5)
                         / 1000000 AS DECIMAL(38,6))) AS DOUBLE)
             / COUNT(*) AS centroid
    FROM embeddings, (SELECT unnest(range(1, 65))::INT AS i) dims
    GROUP BY label, i
    """,
    doc="Per-label embedding centroid (the vector-aggregate pattern: "
        "cluster means, class prototypes, IVF centroid refinement). "
        "Dimension-exploded exact aggregation: posexplode -> "
        "groupBy(label, dim) -> decimal-exact mean, so the float sum "
        "is order-independent — a plain array-column sum would drift "
        "with partitioning. The explode multiplies rows by dim count "
        "but each shuffle row is 20 bytes; at 100 TB this beats "
        "collecting vectors to one place by construction. Floats are "
        "quantized with floor(x*1e6+0.5)/1e6 before the decimal cast "
        "(float->decimal rounding is engine-dependent; floor on "
        "doubles is IEEE-exact in both).",
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("dim", "v"))
    q = F.floor(F.col("v").cast("double") * 1000000.0 + 0.5) / 1000000.0
    return (ex.groupBy("label", "dim")
              .agg((F.sum(q.cast("decimal(38,6)")).cast("double")
                    / F.count("*")).alias("centroid")))


_KMEANS_CENT_SQL = """
    ex AS (
      SELECT label, i - 1 AS dim,
             CAST(SUM(CAST(floor(embedding[i]::DOUBLE * 1000000 + 0.5)
                           / 1000000 AS DECIMAL(38,6))) AS DOUBLE)
               / COUNT(*) AS c
      FROM embeddings, (SELECT unnest(range(1, 65))::INT AS i) dims
      GROUP BY label, i
    ),
    cent AS (
      SELECT label AS c_id, list(c ORDER BY dim) AS cv FROM ex GROUP BY label
    )"""


def _ivf_multiprobe_sql() -> str:
    from .llm_ext import _cosine_sql
    return f"""
    WITH {_KMEANS_CENT_SQL},
    corpus AS (SELECT vec_id, embedding FROM embeddings),
    scored AS (
      SELECT corpus.vec_id, corpus.embedding, cent.c_id,
             {_cosine_sql('corpus.embedding', 'cent.cv')} AS sim
      FROM corpus CROSS JOIN cent
    ),
    assigned AS (
      SELECT vec_id, embedding, c_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, c_id) AS rn
      FROM scored
    ),
    cells AS (SELECT vec_id, embedding, c_id FROM assigned WHERE rn = 1),
    probes AS (SELECT vec_id AS q_id, embedding AS qv, c_id AS p_cell
               FROM assigned WHERE vec_id < 10 AND rn <= 4),
    sims AS (
      SELECT p.q_id, c.vec_id AS neighbor_id,
             {_cosine_sql('p.qv', 'c.embedding')} AS cosine
      FROM probes p JOIN cells c
        ON c.c_id = p.p_cell AND c.vec_id <> p.q_id
    )
    SELECT q_id, neighbor_id, rank, round(cosine, 6) AS cosine
    FROM (SELECT q_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cosine DESC, neighbor_id) AS rank
          FROM sims)
    WHERE rank <= 3
    """


@register(
    "ann_ivf_multiprobe",
    None,  # oracle patched below (built by a helper)
    doc="IVF with data-adaptive centroids and multi-probe: centroids "
        "are per-label mean vectors (one k-means refinement step with "
        "labeled init — computed with the dimension-exploded exact "
        "mean so they are engine-portable), every vector joins its "
        "nearest centroid's cell, and each query probes its nprobe=4 "
        "nearest cells instead of 1. Lifts recall@3 roughly 3x over "
        "ann_ivf_topk (arbitrary centroids, nprobe=1) at the "
        "same asymptotic cost profile: corpus × nlist centroid "
        "scoring is the only full pass, candidate scoring touches "
        "nprobe/nlist of the corpus per query. tests/test_ivf_index.py "
        "pins the recall floor.",
)
def ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    from ..functions.vectors import cosine_similarity
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("dim", "v"))
    qv = F.floor(F.col("v").cast("double") * 1000000.0 + 0.5) / 1000000.0
    cent_long = (ex.groupBy("label", "dim")
                   .agg((F.sum(qv.cast("decimal(38,6)")).cast("double")
                         / F.count("*")).alias("c")))
    cent = (cent_long.groupBy(F.col("label").alias("c_id"))
                     .agg(F.transform(
                         F.array_sort(F.collect_list(F.struct("dim", "c"))),
                         lambda s: s["c"]).alias("cv")))
    scored = (e.select("vec_id", "embedding")
               .crossJoin(F.broadcast(cent))
               .withColumn("sim", cosine_similarity(F.col("embedding"),
                                                    F.col("cv"))))
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("c_id"))
    assigned = persist(scored.withColumn("rn", F.row_number().over(w))
                             .select("vec_id", "embedding", "c_id", "rn"))
    cells = assigned.filter(F.col("rn") == 1) \
                    .select("vec_id", "embedding", "c_id")
    probes = (assigned.filter((F.col("vec_id") < 10) & (F.col("rn") <= 4))
                      .select(F.col("vec_id").alias("q_id"),
                              F.col("embedding").alias("qv"),
                              F.col("c_id").alias("p_cell")))
    sims = (cells.join(F.broadcast(probes),
                       (F.col("c_id") == F.col("p_cell"))
                       & (F.col("vec_id") != F.col("q_id")))
                 .select("q_id", F.col("vec_id").alias("neighbor_id"),
                         cosine_similarity(F.col("qv"), F.col("embedding"))
                          .alias("cosine")))
    wr = Window.partitionBy("q_id").orderBy(F.desc("cosine"),
                                            F.asc("neighbor_id"))
    return (sims.withColumn("rank", F.row_number().over(wr))
                .filter(F.col("rank") <= 3)
                .select("q_id", "neighbor_id", "rank",
                        F.round("cosine", 6).alias("cosine")))


from . import REGISTRY as _REG2  # noqa: E402
from . import QuerySpec as _QS2  # noqa: E402
_REG2["ann_ivf_multiprobe"] = _QS2(
    fn=_REG2["ann_ivf_multiprobe"].fn, oracle=_ivf_multiprobe_sql(),
    doc=_REG2["ann_ivf_multiprobe"].doc)


@register(
    "hourly_anomaly_flags",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    ma AS (
      SELECT event_type, hour, n_events,
             CAST(SUM(n_events) OVER w AS DOUBLE)
               / CAST(COUNT(*) OVER w AS DOUBLE) AS moving_avg
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hour, n_events, moving_avg,
           n_events > 1.5 * moving_avg AS is_spike
    FROM ma WHERE moving_avg IS NOT NULL
    """,
    doc="Time-series anomaly flagging: hourly counts per event type, "
        "trailing 6-hour moving average (frame excludes the current "
        "row), spike = count > 1.5x the trailing mean. One aggregate "
        "plus one window over the already-hour-grained series — the "
        "window input is |types|x|hours|, tiny relative to the event "
        "stream at any scale. The moving average divides integer "
        "sums (exact), so the doubles are engine-portable.",
)
def hourly_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    e = load_table(spark, sf_dir, "events")
    hourly = (e.groupBy("event_type",
                        F.date_trunc("hour", F.col("ts")).alias("hour"))
               .agg(F.count("*").alias("n_events")))
    w = (Window.partitionBy("event_type").orderBy("hour")
         .rowsBetween(-6, -1))
    ma = (F.sum("n_events").over(w).cast("double")
          / F.count("*").over(w).cast("double"))
    return (hourly.withColumn("moving_avg", ma)
                  .filter(F.col("moving_avg").isNotNull())
                  .select("event_type", "hour", "n_events", "moving_avg",
                          (F.col("n_events") > 1.5 * F.col("moving_avg"))
                           .alias("is_spike")))


@register(
    "customer_value_segments",
    """
    WITH cust AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS revenue_dec,
             COUNT(*) AS n_orders,
             max(o_orderdate) AS last_order
      FROM orders GROUP BY o_custkey
    ),
    tiled AS (
      SELECT *, ntile(4) OVER (ORDER BY revenue_dec DESC, o_custkey) AS segment
      FROM cust
    )
    SELECT segment, COUNT(*) AS n_customers,
           CAST(SUM(revenue_dec) AS DOUBLE) AS segment_revenue,
           CAST(SUM(n_orders) AS BIGINT) AS segment_orders,
           max(last_order) AS latest_order
    FROM tiled GROUP BY segment
    """,
    doc="RFM-style customer segmentation: per-customer revenue "
        "profile, EXACT quartile assignment, then per-segment rollup. "
        "ntile(4) is reproduced without a single-partition sort: a "
        "distributed global rank (two-pass prefix count, "
        "operators/prefix.py) plus ntile's bucket arithmetic — with n "
        "rows, base = n//4 and rem = n%4, ranks 1..rem*(base+1) land "
        "in buckets of size base+1, the rest in buckets of size base. "
        "Unique tiebreak on custkey keeps tile edges engine-portable. "
        "The ranked relation is the per-customer aggregate (1 row/"
        "customer), and every task touches only its own revenue "
        "range — exact quantiles at any customer count.",
)
def customer_value_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import with_global_running
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
         .alias("revenue_dec"),
        F.count("*").alias("n_orders"),
        F.max("o_orderdate").alias("last_order"))
    ranked = with_global_running(
        cust, [F.desc("revenue_dec"), F.asc("o_custkey")],
        rank="rnk", totals=True)
    n, r = F.col("_n_total"), F.col("rnk")
    base, rem = (n / 4).cast("bigint"), n % 4
    big = rem * (base + 1)  # rows covered by the (base+1)-sized buckets
    seg = F.when(r <= big, ((r - 1) / (base + 1)).cast("bigint"))\
           .otherwise(rem + ((r - big - 1) / base).cast("bigint")) + 1
    return (ranked.withColumn("segment", seg.cast("int"))
                .groupBy("segment")
                .agg(F.count("*").alias("n_customers"),
                     F.sum("revenue_dec").cast("double")
                      .alias("segment_revenue"),
                     F.sum("n_orders").alias("segment_orders"),
                     F.max("last_order").alias("latest_order")))


@register(
    "salted_event_type_stats",
    f"""
    SELECT event_type,
           {_osum('value')} AS total_value,
           COUNT(*) AS n_events,
           CAST(max(value) AS DOUBLE) AS max_value
    FROM events GROUP BY event_type
    """,
    doc="Skew-mitigated aggregation under the oracle gate: events "
        "grouped by event_type (5 hot keys — exactly the shape where "
        "one reducer serializes a plain groupBy) through "
        "operators/skew.py::salted_groupby_agg — phase 1 aggregates "
        "per (key, random salt), phase 2 merges per-salt partials. "
        "Only algebraic aggregates decompose (sum/count re-sum, max "
        "re-maxes); results are bit-identical to the plain group-by "
        "the oracle runs, independent of salt assignment.",
)
def salted_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_groupby_agg
    e = load_table(spark, sf_dir, "events")
    out = salted_groupby_agg(
        e, ["event_type"],
        aggs={"total_value": F.sum(F.col("value").cast("decimal(38,6)")),
              "n_events": F.count("*"),
              "max_value": F.max("value")},
        mergers={"total_value": F.sum, "n_events": F.sum,
                 "max_value": F.max})
    return out.select("event_type",
                      F.col("total_value").cast("double").alias("total_value"),
                      "n_events",
                      F.col("max_value").cast("double").alias("max_value"))


@register(
    "user_value_trend",
    """
    WITH base AS (
      SELECT user_id, epoch_us(ts) // 1000000 AS xsec,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS ycents
      FROM events
    ),
    reb AS (
      SELECT user_id,
             xsec - min(xsec) OVER (PARTITION BY user_id) AS x,
             ycents AS y
      FROM base
    ),
    s AS (
      SELECT user_id, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM reb GROUP BY user_id
    )
    SELECT user_id, n AS n_events,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE ((n * sxy - sx * sy)::DOUBLE
                      / (n * sxx - sx * sx)::DOUBLE) / 100.0
           END AS slope
    FROM s
    """,
    doc="Grouped-map applyInPandas API EXEMPLAR (the §2.9 shape demo, "
        "like doc_chunks_udtf for UDTFs): per-user OLS slope of event "
        "value over time. One shuffle on user_id, Arrow-batched "
        "groups, FlatMapGroupsInPandas in the plan (never row-at-a-"
        "time BatchEvalPython). NOTE this operator IS natively "
        "expressible — the hot-path twin is user_value_trend_native "
        "(integer-quantized DECIMAL(38,0) normal equations, no Python "
        "worker); keep this version only as the documented "
        "applyInPandas surface. Exactness across engines: timestamps "
        "rebase to per-user epoch-second offsets and values to "
        "integer cents, the normal-equation sums run in arbitrary-"
        "precision Python ints (HUGEINT in the oracle), and only the "
        "final slope divides as double — no float accumulation order "
        "anywhere.",
)
def user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    import pandas as pd

    e = load_table(spark, sf_dir, "events") \
        .select("user_id", F.unix_micros("ts").alias("us"), "value")

    def slope(pdf: pd.DataFrame) -> pd.DataFrame:
        xs = [int(v) // 1_000_000 for v in pdf["us"]]
        ys = [math.floor(v * 100 + 0.5) for v in pdf["value"]]
        x0 = min(xs)
        xs = [x - x0 for x in xs]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        den = n * sxx - sx * sx
        val = (float(n * sxy - sx * sy) / float(den)) / 100.0 if den else None
        return pd.DataFrame({"user_id": [int(pdf["user_id"].iloc[0])],
                             "n_events": [n], "slope": [val]})

    return e.groupBy("user_id").applyInPandas(
        slope, schema="user_id bigint, n_events bigint, slope double")


@register(
    "user_value_trend_native",
    """
    WITH base AS (
      SELECT user_id, epoch_us(ts) // 1000000 AS xsec,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS ycents
      FROM events
    ),
    reb AS (
      SELECT user_id,
             xsec - min(xsec) OVER (PARTITION BY user_id) AS x,
             ycents AS y
      FROM base
    ),
    s AS (
      SELECT user_id, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM reb GROUP BY user_id
    )
    SELECT user_id, n AS n_events,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE ((n * sxy - sx * sy)::DOUBLE
                      / (n * sxx - sx * sx)::DOUBLE) / 100.0
           END AS slope
    FROM s
    """,
    doc="The NATIVE hot-path twin of user_value_trend: per-user OLS "
        "slope as plain grouped sums — zero Python workers, zero "
        "Arrow hops, whole-stage codegen end to end. Exactness is "
        "preserved by the same quantization contract as the pandas "
        "version: timestamps rebase to per-user epoch-second offsets "
        "(min() over a user_id-partitioned window — the rebase keeps "
        "magnitudes small enough that every product fits DECIMAL"
        "(38,0)), values quantize to integer cents, the five normal-"
        "equation sums accumulate as exact DECIMAL(38,0) integers "
        "(HUGEINT in the oracle), and only the final slope divides "
        "as double. One effective shuffle: the window hash-partitions "
        "on user_id and the following groupBy reuses that "
        "distribution. This is the production formulation at 100 TB; "
        "the applyInPandas twin remains as the §2.9 API exemplar.",
)
def user_value_trend_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts) div 1000000").alias("xsec"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
         .alias("ycents"))
    w = Window.partitionBy("user_id")
    reb = e.select(
        "user_id",
        (F.col("xsec") - F.min("xsec").over(w)).cast("decimal(38,0)")
        .alias("x"),
        F.col("ycents").cast("decimal(38,0)").alias("y"))
    s = reb.groupBy("user_id").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_events"),
        F.when(den == F.lit(0), F.lit(None).cast("double"))
         .otherwise((num.cast("double") / den.cast("double")) / 100.0)
         .alias("slope"))


@register(
    "sliding_window_counts",
    """
    WITH expanded AS (
      SELECT e.event_type, e.value,
             to_timestamp((epoch_us(e.ts) // 900000000) * 900 - i.i * 900)
               ::TIMESTAMP AS window_start
      FROM events e, (SELECT unnest(range(0, 4)) AS i) i
      WHERE to_timestamp((epoch_us(e.ts) // 900000000) * 900 - i.i * 900)
            ::TIMESTAMP > e.ts - INTERVAL 60 MINUTE
    )
    SELECT window_start,
           window_start + INTERVAL 60 MINUTE AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM expanded GROUP BY window_start, event_type
    """,
    doc="Sliding event-time windows (60-minute span, 15-minute "
        "slide) via F.window — each event lands in span/slide = 4 "
        "windows; Spark expands exactly that fan-out before the "
        "aggregate (the same operator Structured Streaming uses with "
        "a watermark). The oracle reproduces the epoch-aligned window "
        "grid with an explicit 4-way unnest.",
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "60 minutes", "15 minutes"),
                      "event_type")
             .agg(F.count("*").alias("n_events"),
                  F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
                   .alias("total_value"))
             .select(F.col("window.start").alias("window_start"),
                     F.col("window.end").alias("window_end"),
                     "event_type", "n_events", "total_value"))


# --- Product quantization (the 4th standard ANN layout next to
#     brute-force / hyperplane-LSH / IVF) ---

_PQ_M = 8          # subspaces (64 dims -> 8 x 8)
_PQ_SUB = 8        # dims per subspace
_PQ_STRIDE = 5     # codebook = every 5th corpus vector -> K=64
_PQ_CENTROID_IDS = tuple(range(0, 320, _PQ_STRIDE))


def _normed_vectors(emb):
    """(vec_id, nv): L2-normalized double vectors. Normalizing first
    makes PQ's L2 distances rank identically to cosine (||a-b||^2 =
    2 - 2cos on unit vectors) — without it a 16-entry codebook
    quantizes magnitude instead of direction and recall collapses.

    Rebalanced first: the embeddings file is tiny in BYTES (float
    arrays), so the scan plans 1-2 partitions, and everything a PQ
    query does downstream — normalize, 128-entry codebook scoring,
    dimension explodes — is CPU-bound per ROW. One cheap rebalance of
    the raw vectors buys full cluster width for the whole family
    (measured 2.3x on pq_encode_trained at sf0.1)."""
    from ..functions.core import rebalance
    from ..functions.vectors import vec_norm
    v = rebalance(emb).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ev"))
    return (v.withColumn("nrm", vec_norm(F.col("ev")))
             .select("vec_id",
                     F.transform("ev", lambda x: x / F.col("nrm"))
                      .alias("nv")))



def _pq_assign_codes(vectors, codebook, vec_col="nv", id_col="vec_id"):
    """(id, codes array<int>): the argmin code per subspace, computed
    with ONE (vector x codeword) broadcast join whose rows carry ALL
    M subspace distances as an array — M-fold fewer shuffle rows than
    a per-subspace explode — reduced by a single groupBy with M
    struct-min aggregates (tie -> lowest k, identical to ORDER BY
    dist, k). Measured ~30x faster than the exploded form at sf0.1.
    Requires full-width codewords (same k-set for every subspace).

    The squared-diff vector materializes as ONE bound column before
    the per-subspace sums slice it: Catalyst has no CSE for
    higher-order-function lambdas, so 8 independent
    zip_with(slice, slice) calls would redo the element multiplies
    per subspace — binding ``_d2`` computes the 64 of them once per
    (vec, codeword) row (~15% on the PQ family at sf0.1; subspace
    sums still fold in ascending order, so codes stay bit-exact)."""
    combos = (vectors.crossJoin(F.broadcast(codebook))
              .withColumn("_d2", F.zip_with(vec_col, "cv",
                                            lambda x, c: (x - c) * (x - c)))
              .select(id_col, "k",
                      F.array(*[F.aggregate(
                          F.slice("_d2", m * _PQ_SUB + 1, _PQ_SUB),
                          F.lit(0.0), lambda acc, x: acc + x)
                          for m in range(_PQ_M)]).alias("ds")))
    aggs = [F.min(F.struct(F.col("ds")[m].alias("d"),
                           F.col("k").alias("k"))).alias(f"b{m}")
            for m in range(_PQ_M)]
    return (combos.groupBy(id_col).agg(*aggs)
                  .select(id_col,
                          F.array(*[F.col(f"b{m}.k")
                                    for m in range(_PQ_M)]).alias("codes")))


def _codes_long(codes_df, id_col="vec_id"):
    return codes_df.select(id_col, F.posexplode("codes").alias("m", "k"))


def _pq_oracle() -> str:
    ids = ", ".join(str(i) for i in _PQ_CENTROID_IDS)
    return f"""
    WITH normed AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[], x -> x / sqrt(list_sum([y * y for y in embedding::DOUBLE[]]))) AS nv
      FROM embeddings
    ),
    cent AS (
      SELECT vec_id AS c_id, (vec_id // 5)::INT AS k, nv AS cv
      FROM normed WHERE vec_id IN ({ids})
    ),
    combos AS (
      SELECT e.vec_id, m.m::INT AS m, c.k,
             list_sum(list_transform(
               list_zip(list_slice(e.nv,
                                   m.m::INT * {_PQ_SUB} + 1,
                                   m.m::INT * {_PQ_SUB} + {_PQ_SUB}),
                        list_slice(c.cv,
                                   m.m::INT * {_PQ_SUB} + 1,
                                   m.m::INT * {_PQ_SUB} + {_PQ_SUB})),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
      FROM normed e
      CROSS JOIN cent c
      CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS m) m
    ),
    best AS (
      SELECT vec_id, m, k,
             row_number() OVER (PARTITION BY vec_id, m
                                ORDER BY dist, k) AS rn
      FROM combos
    )
    SELECT vec_id, array_to_string(list(k ORDER BY m), ',') AS codes
    FROM best WHERE rn = 1 GROUP BY vec_id
    """


@register(
    "pq_encode",
    _pq_oracle(),
    doc="Product quantization encode (PQ — the compressed ANN layout: "
        "64-dim float vector -> {m} uint4 codes, a 64x memory cut "
        "before any distance scan): the vector splits into {m} "
        "{s}-dim subvectors, each assigned its argmin-L2 codebook "
        "entry (16 fixed corpus vectors as the training-free "
        "codebook, tie -> lowest code). One broadcast of the "
        "{m}x16-row codebook, one map-side distance projection, one "
        "shuffle on vec_id to collect codes — at 100 TB the encoded "
        "table is what a memory-resident IVF-PQ index stores, and "
        "asymmetric-distance scans read 8 bytes/vector instead of "
        "256. Codes are exact integers (argmin ties broken by code), "
        "so the result is engine-portable despite float distances."
        .format(m=_PQ_M, s=_PQ_SUB),
)

def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    normed = _normed_vectors(emb)
    cent = (normed.filter(F.col("vec_id").isin(*_PQ_CENTROID_IDS))
                  .select((F.col("vec_id") / _PQ_STRIDE).cast("int").alias("k"),
                          F.col("nv").alias("cv")))
    from ..functions.core import arr_str
    return (_pq_assign_codes(normed, cent)
            .select("vec_id", arr_str("codes").alias("codes")))


def _ivfpq_oracle() -> str:
    ids = ", ".join(str(i) for i in _PQ_CENTROID_IDS)
    sub = (f"list_slice({{v}}, m.m::INT * {_PQ_SUB} + 1, "
           f"m.m::INT * {_PQ_SUB} + {_PQ_SUB})")
    d2 = (f"list_sum(list_transform(list_zip({sub.format(v='q.qv')}, "
          f"{sub.format(v='c.cv')}), p -> (p[1] - p[2]) * (p[1] - p[2])))")
    code_d2 = (f"list_sum(list_transform("
               f"list_zip({sub.format(v='e.nv')}, "
               f"{sub.format(v='c.cv')}), "
               f"p -> (p[1] - p[2]) * (p[1] - p[2])))")
    return f"""
    WITH {_ivf_assign_sql()},
    cells AS (SELECT vec_id, embedding, c_id FROM assigned WHERE rn = 1),
    normed AS (
      SELECT vec_id, list_transform(embedding::DOUBLE[], x -> x / sqrt(list_sum([y * y for y in embedding::DOUBLE[]]))) AS nv
      FROM embeddings
    ),
    pqc AS (
      SELECT vec_id AS pq_c_id, (vec_id // 5)::INT AS k, nv AS cv
      FROM normed WHERE vec_id IN ({ids})
    ),
    combos AS (
      SELECT e.vec_id, m.m::INT AS m, c.k, {code_d2} AS dist
      FROM normed e
      CROSS JOIN pqc c
      CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS m) m
    ),
    codes AS (
      SELECT vec_id, m, k FROM (
        SELECT vec_id, m, k,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY dist, k) AS rn
        FROM combos) WHERE rn = 1
    ),
    q AS (SELECT c.vec_id AS q_id, n.nv AS qv, c.c_id AS q_cell
          FROM cells c JOIN normed n ON c.vec_id = n.vec_id
          WHERE c.vec_id < 10),
    qd AS (
      SELECT q.q_id, m.m::INT AS m, c.k, {d2} AS d
      FROM q CROSS JOIN pqc c
      CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS m) m
    ),
    cand AS (
      SELECT q.q_id, c.vec_id FROM q
      JOIN cells c ON c.c_id = q.q_cell AND c.vec_id <> q.q_id
    ),
    adc_scored AS (
      SELECT ca.q_id, ca.vec_id AS neighbor_id,
             list_sum(list(qd.d ORDER BY co.m)) AS adc
      FROM cand ca
      JOIN codes co ON co.vec_id = ca.vec_id
      JOIN qd ON qd.q_id = ca.q_id AND qd.m = co.m AND qd.k = co.k
      GROUP BY ca.q_id, ca.vec_id
    )
    SELECT q_id, neighbor_id, rank
    FROM (SELECT q_id, neighbor_id, adc,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY adc, neighbor_id) AS rank
          FROM adc_scored)
    WHERE rank <= 3
    """


@register(
    "ann_ivfpq_topk",
    _ivfpq_oracle(),
    doc="IVF-PQ: the production ANN composite — IVF cells route each "
        "query to its own cell's candidates (nprobe=1), and "
        "candidates are scored by ASYMMETRIC PQ distance: the query "
        "precomputes an 8x16 subspace-distance lookup table (one "
        "tiny broadcast), each candidate contributes only its 8 "
        "stored codes, so scoring never touches candidate floats — "
        "at 100 TB the scan reads 8 bytes/vector instead of 256. "
        "ADC sums fold in ascending subspace order in both engines "
        "(order-dependent float addition pinned); ranks tie-break on "
        "neighbor id keep ranks engine-exact; the raw adc is "
        "omitted (float-fold association differs across engines).",
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    scored = _ivfpq_adc_scored(spark, sf_dir)
    w = Window.partitionBy("q_id").orderBy(F.asc("adc"), F.asc("vec_id"))
    # adc itself is omitted from the output: it accumulates ~80 float
    # additions and engines associate list folds differently in the
    # last bits, so the VALUE is not hash-portable — the rank (with
    # neighbor tie-break) is the contract, same policy as
    # tfidf_top_terms omitting its ln-based score.
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= 3)
                  .select("q_id", F.col("vec_id").alias("neighbor_id"),
                          "rank"))


def _ivfpq_adc_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, vec_id, adc): every own-cell candidate scored by
    asymmetric PQ distance — shared by the plain top-k and the
    rerank composite."""
    emb = load_table(spark, sf_dir, "embeddings")
    cells = persist(_ivf_assign(spark, sf_dir).select("vec_id", "c_id"))
    # PQ codebook + per-vector codes over NORMALIZED vectors (same
    # construction as pq_encode; see _normed_vectors for why)
    normed = _normed_vectors(emb)
    cent = (normed.filter(F.col("vec_id").isin(*_PQ_CENTROID_IDS))
                  .select((F.col("vec_id") / _PQ_STRIDE).cast("int")
                          .alias("k"),
                          F.col("nv").alias("cv")))
    ms = spark.range(_PQ_M).select(F.col("id").cast("int").alias("m"))
    codebook = cent.crossJoin(ms).select(
        "m", "k",
        F.slice("cv", F.col("m") * _PQ_SUB + 1, _PQ_SUB).alias("c_sub"))
    v = normed.select("vec_id", F.col("nv").alias("ev"))
    sq = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0), lambda acc, x: acc + x)
    codes = _codes_long(_pq_assign_codes(normed, cent))
    # queries: own cell + the 8x16 ADC lookup table (broadcast)
    q = (cells.filter(F.col("vec_id") < 10)
              .join(v, "vec_id")
              .select(F.col("vec_id").alias("q_id"),
                      F.col("c_id").alias("q_cell"),
                      F.col("ev").alias("qv")))
    qd = q.crossJoin(F.broadcast(codebook)).select(
        "q_id", "m", "k",
        sq(F.slice("qv", F.col("m") * _PQ_SUB + 1, _PQ_SUB),
           F.col("c_sub")).alias("d"))
    cand = (cells.join(F.broadcast(q.select("q_id", "q_cell")),
                       (F.col("c_id") == F.col("q_cell"))
                       & (F.col("vec_id") != F.col("q_id")))
                 .select("q_id", "vec_id"))
    # fold subspace distances in ascending m order (pinned float order)
    return (cand.join(codes, "vec_id")
                .join(F.broadcast(qd), ["q_id", "m", "k"])
                .groupBy("q_id", "vec_id")
                .agg(F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("m", "d"))),
                        lambda s: s.d),
                    F.lit(0.0), lambda acc, x: acc + x).alias("adc")))


_RERANK_POOL = 10


def _ivfpq_rerank_oracle() -> str:
    from .llm_ext import _cosine_sql
    base = _ivfpq_oracle()
    tail = "SELECT q_id, neighbor_id, rank"
    assert base.count(tail) == 1
    body = base[:base.index(tail)].rstrip()
    return f"""
    {body},
    pq_top AS (
      SELECT q_id, neighbor_id FROM (
        SELECT q_id, neighbor_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY adc, neighbor_id) AS pq_rank
        FROM adc_scored) WHERE pq_rank <= {_RERANK_POOL}
    ),
    rr AS (
      SELECT t.q_id, t.neighbor_id,
             {_cosine_sql('a.embedding', 'b.embedding')} AS cosine
      FROM pq_top t
      JOIN embeddings a ON a.vec_id = t.q_id
      JOIN embeddings b ON b.vec_id = t.neighbor_id
    )
    SELECT q_id, neighbor_id, rank, round(cosine, 6) AS cosine
    FROM (SELECT q_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cosine DESC, neighbor_id) AS rank
          FROM rr)
    WHERE rank <= 3
    """


@register(
    "ann_ivfpq_rerank_topk",
    _ivfpq_rerank_oracle(),
    doc="Two-stage retrieve-then-rerank — the production ANN serving "
        "stack completed: IVF routes to the query's cell, asymmetric "
        "PQ distance ranks the cell's candidates from 8-byte codes "
        "(coarse stage — never touches candidate floats), the top-10 "
        "PQ candidates ALONE fetch their raw vectors for an exact "
        "cosine rerank, and the final top-3 is by true similarity. "
        "At 100 TB the exact stage reads 10 vectors per query "
        "instead of a cell's worth — the float fetch is the "
        "expensive hop PQ exists to amortize. Output rank + 6dp "
        "cosine both value-hash-portable (ADC stays internal, same "
        "policy as ann_ivfpq_topk).",
)
def ann_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    from ..functions.vectors import cosine_similarity
    scored = _ivfpq_adc_scored(spark, sf_dir)
    wp = Window.partitionBy("q_id").orderBy(F.asc("adc"), F.asc("vec_id"))
    pq_top = (scored.withColumn("pq_rank", F.row_number().over(wp))
                    .filter(F.col("pq_rank") <= _RERANK_POOL)
                    .select("q_id", F.col("vec_id").alias("neighbor_id")))
    emb = load_table(spark, sf_dir, "embeddings")
    # query-side floats: ONLY the query subset broadcasts (the same
    # vec_id < 10 predicate that defines q in _ivfpq_adc_scored) —
    # broadcasting the full embeddings table here would ship the
    # corpus to every task, the exact cost PQ exists to avoid
    a = (emb.filter(F.col("vec_id") < 10)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("qe")))
    b = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("ne"))
    rr = (pq_top.join(F.broadcast(a), "q_id")
                .join(b, "neighbor_id")
                .select("q_id", "neighbor_id",
                        cosine_similarity(F.col("qe"), F.col("ne"))
                         .alias("cosine")))
    wr = Window.partitionBy("q_id").orderBy(F.desc("cosine"),
                                            F.asc("neighbor_id"))
    return (rr.withColumn("rank", F.row_number().over(wr))
              .filter(F.col("rank") <= 3)
              .select("q_id", "neighbor_id", "rank",
                      F.round("cosine", 6).alias("cosine")))


_RPQ_CODE_IDS = tuple(range(1, 321, 5))  # residual codebook -> K=64
_RPQ_NPROBE = 2


def _ivfpq_residual_oracle() -> str:
    rids = ", ".join(str(i) for i in _RPQ_CODE_IDS)
    sub = (f"list_slice({{v}}, m.m::INT * {_PQ_SUB} + 1, "
           f"m.m::INT * {_PQ_SUB} + {_PQ_SUB})")

    def d2(a: str, b: str) -> str:
        return (f"list_sum(list_transform(list_zip({a}, {b}), "
                f"p -> (p[1] - p[2]) * (p[1] - p[2])))")

    return f"""
    WITH {_ivf_assign_sql()},
    cells AS (SELECT vec_id, embedding, c_id FROM assigned WHERE rn = 1),
    normed AS (
      SELECT vec_id, list_transform(embedding::DOUBLE[], x -> x / sqrt(list_sum([y * y for y in embedding::DOUBLE[]]))) AS nv
      FROM embeddings
    ),
    centv AS (SELECT c_id AS cc_id, n.nv AS cv
              FROM cent JOIN normed n ON cent.c_id = n.vec_id),
    res AS (
      SELECT c.vec_id, c.c_id,
             list_transform(list_zip(n.nv, v.cv),
                            p -> p[1] - p[2]) AS rv
      FROM cells c
      JOIN normed n ON c.vec_id = n.vec_id
      JOIN centv v ON c.c_id = v.cc_id
    ),
    rbook AS (
      SELECT ((vec_id - 1) // 5)::INT AS k, rv AS bv
      FROM res WHERE vec_id IN ({rids})
    ),
    rcombos AS (
      SELECT r.vec_id, m.m::INT AS m, b.k,
             {d2(sub.format(v='r.rv'), sub.format(v='b.bv'))} AS dist
      FROM res r CROSS JOIN rbook b
      CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS m) m
    ),
    rcodes AS (
      SELECT vec_id, m, k FROM (
        SELECT vec_id, m, k,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY dist, k) AS rn
        FROM rcombos) WHERE rn = 1
    ),
    probes AS (
      SELECT a.vec_id AS q_id, a.c_id AS p_cell
      FROM assigned a WHERE a.vec_id < 10 AND a.rn <= {_RPQ_NPROBE}
    ),
    qres AS (
      SELECT p.q_id, p.p_cell,
             list_transform(list_zip(n.nv, v.cv),
                            p2 -> p2[1] - p2[2]) AS qrv
      FROM probes p
      JOIN normed n ON p.q_id = n.vec_id
      JOIN centv v ON p.p_cell = v.cc_id
    ),
    qd AS (
      SELECT q.q_id, q.p_cell, m.m::INT AS m, b.k,
             {d2(sub.format(v='q.qrv'), sub.format(v='b.bv'))} AS d
      FROM qres q CROSS JOIN rbook b
      CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS m) m
    ),
    cand AS (
      SELECT p.q_id, c.vec_id, c.c_id
      FROM probes p JOIN cells c
        ON c.c_id = p.p_cell AND c.vec_id <> p.q_id
    ),
    adc_scored AS (
      SELECT ca.q_id, ca.vec_id AS neighbor_id,
             list_sum(list(qd.d ORDER BY co.m)) AS adc
      FROM cand ca
      JOIN rcodes co ON co.vec_id = ca.vec_id
      JOIN qd ON qd.q_id = ca.q_id AND qd.p_cell = ca.c_id
             AND qd.m = co.m AND qd.k = co.k
      GROUP BY ca.q_id, ca.vec_id
    )
    SELECT q_id, neighbor_id, rank
    FROM (SELECT q_id, neighbor_id, adc,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY adc, neighbor_id) AS rank
          FROM adc_scored)
    WHERE rank <= 3
    """


@register(
    "ann_ivfpq_residual_topk",
    _ivfpq_residual_oracle(),
    doc="Residual IVF-PQ with multi-probe (nprobe={p}) — the full "
        "production composite: vectors PQ-encode their RESIDUAL from "
        "their cell centroid (residuals are centered near zero, so a "
        "shared codebook quantizes them far better than raw vectors "
        "— the standard IVF-PQ refinement), and each query probes "
        "its {p} nearest cells with a PER-CELL ADC lookup table "
        "(the query's residual differs per probed cell). Candidates "
        "still contribute only 8 stored codes. The residual codebook "
        "is training-free (64 fixed corpus residuals). Subspace "
        "sums fold in ascending order; tie-breaks on code/neighbor "
        "make ranks engine-exact.".format(p=_RPQ_NPROBE),
)
def ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    from ..functions.vectors import vec_dot, vec_norm
    emb = load_table(spark, sf_dir, "embeddings")
    # cell assignment with full centroid ranking (rn<=nprobe reused)
    cent = (emb.filter(F.col("vec_id").isin(*_IVF_CENTROID_IDS))
               .select(F.col("vec_id").alias("c_id"),
                       F.col("embedding").cast("array<double>").alias("cv"))
               .withColumn("cnrm", vec_norm(F.col("cv"))))
    scored = (emb.select("vec_id",
                         F.col("embedding").cast("array<double>").alias("ev"))
                 .withColumn("nrm", vec_norm(F.col("ev")))
                 .crossJoin(F.broadcast(cent))
                 .withColumn("sim", vec_dot(F.col("ev"), F.col("cv"))
                             / (F.col("nrm") * F.col("cnrm"))))
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("c_id"))
    assigned = persist(scored.withColumn("rn", F.row_number().over(w))
                             .select("vec_id", "ev", "cv", "c_id", "rn"))
    # residuals of cell members (rn=1), over NORMALIZED vectors
    # (assignment above stays on raw vectors — cosine is scale-
    # invariant so the cells are identical; see _normed_vectors)
    normed = _normed_vectors(emb)
    ncent = (normed.filter(F.col("vec_id").isin(*_IVF_CENTROID_IDS))
                   .select(F.col("vec_id").alias("nc_id"),
                           F.col("nv").alias("ncv")))
    res = (assigned.filter(F.col("rn") == 1)
                   .join(normed, "vec_id")
                   .join(F.broadcast(ncent), F.col("c_id") == F.col("nc_id"))
                   .select("vec_id", "c_id",
                           F.zip_with("nv", "ncv", lambda x, c: x - c)
                            .alias("rv")))
    rbook = (res.filter(F.col("vec_id").isin(*_RPQ_CODE_IDS))
                .select(((F.col("vec_id") - 1) / 5).cast("int").alias("k"),
                        F.col("rv").alias("bv")))
    ms = spark.range(_PQ_M).select(F.col("id").cast("int").alias("m"))
    rcodebook = rbook.crossJoin(ms).select(
        "m", "k",
        F.slice("bv", F.col("m") * _PQ_SUB + 1, _PQ_SUB).alias("b_sub"))
    sq = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0), lambda acc, x: acc + x)
    rcodes = _codes_long(_pq_assign_codes(
        res.select("vec_id", F.col("rv").alias("nv")),
        rbook.select("k", F.col("bv").alias("cv"))))
    # query probes + per-(query, cell) residual lookup tables
    probes = (assigned.filter((F.col("vec_id") < 10)
                              & (F.col("rn") <= _RPQ_NPROBE))
                      .join(normed, "vec_id")
                      .join(F.broadcast(ncent),
                            F.col("c_id") == F.col("nc_id"))
                      .select(F.col("vec_id").alias("q_id"),
                              F.col("c_id").alias("p_cell"),
                              F.zip_with("nv", "ncv", lambda x, c: x - c)
                               .alias("qrv")))
    qd = probes.crossJoin(F.broadcast(rcodebook)).select(
        "q_id", "p_cell", "m", "k",
        sq(F.slice("qrv", F.col("m") * _PQ_SUB + 1, _PQ_SUB),
           F.col("b_sub")).alias("d"))
    cells = assigned.filter(F.col("rn") == 1).select("vec_id", "c_id")
    cand = (cells.join(F.broadcast(probes.select("q_id", "p_cell")),
                       (F.col("c_id") == F.col("p_cell"))
                       & (F.col("vec_id") != F.col("q_id")))
                 .select("q_id", "vec_id", "c_id"))
    scored2 = (cand.join(rcodes, "vec_id")
                   .join(F.broadcast(qd), ["q_id", "m", "k"])
                   .filter(F.col("p_cell") == F.col("c_id"))
                   .groupBy("q_id", "vec_id")
                   .agg(F.aggregate(
                       F.transform(
                           F.array_sort(F.collect_list(F.struct("m", "d"))),
                           lambda s: s.d),
                       F.lit(0.0), lambda acc, x: acc + x).alias("adc")))
    wr = Window.partitionBy("q_id").orderBy(F.asc("adc"), F.asc("vec_id"))
    return (scored2.withColumn("rank", F.row_number().over(wr))
                   .filter(F.col("rank") <= 3)
                   .select("q_id", F.col("vec_id").alias("neighbor_id"),
                           "rank"))  # adc omitted — see ann_ivfpq_topk


def _pq_trained_oracle() -> str:
    ids = ", ".join(str(i) for i in _PQ_CENTROID_IDS)
    norm = ("list_transform(embedding::DOUBLE[], x -> x / "
            "sqrt(list_sum([y * y for y in embedding::DOUBLE[]])))")

    def sl(v, m):
        return (f"list_slice({v}, {m} * {_PQ_SUB} + 1, "
                f"{m} * {_PQ_SUB} + {_PQ_SUB})")

    def d2(a, b):
        return (f"list_sum(list_transform(list_zip({a}, {b}), "
                f"p -> (p[1] - p[2]) * (p[1] - p[2])))")

    a0 = d2(sl("e.nv", "m.m::INT"), sl("c.cv", "m.m::INT"))
    a1 = d2(sl("e.nv", "c.m"), "c.c_sub")
    return f"""
    WITH normed AS (
      SELECT vec_id, {norm} AS nv FROM embeddings
    ),
    cb0 AS (
      SELECT (vec_id // {_PQ_STRIDE})::INT AS k, nv AS cv
      FROM normed WHERE vec_id IN ({ids})
    ),
    assign0 AS (
      SELECT vec_id, m, k FROM (
        SELECT e.vec_id, m.m::INT AS m, c.k, {a0} AS dist,
               row_number() OVER (PARTITION BY e.vec_id, m.m
                                  ORDER BY {a0}, c.k) AS rn
        FROM normed e CROSS JOIN cb0 c
        CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS m) m
      ) WHERE rn = 1
    ),
    subvals AS (
      SELECT n.vec_id, a.m, a.k, d.d::INT AS dim,
             n.nv[a.m * {_PQ_SUB} + d.d::INT + 1] AS val
      FROM normed n
      JOIN assign0 a ON n.vec_id = a.vec_id
      CROSS JOIN (SELECT unnest(range(0, {_PQ_SUB})) AS d) d
    ),
    means AS (
      SELECT m, k, dim,
             CAST(SUM(CAST(floor(val * 1000000 + 0.5) / 1000000
                           AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS c
      FROM subvals GROUP BY m, k, dim
    ),
    cb1 AS (
      SELECT m, k, list(c ORDER BY dim) AS c_sub FROM means GROUP BY m, k
    ),
    recode AS (
      SELECT vec_id, m, k FROM (
        SELECT e.vec_id, c.m, c.k, {a1} AS dist,
               row_number() OVER (PARTITION BY e.vec_id, c.m
                                  ORDER BY {a1}, c.k) AS rn
        FROM normed e JOIN cb1 c ON true
      ) WHERE rn = 1
    )
    SELECT vec_id, array_to_string(list(k ORDER BY m), ',') AS codes
    FROM recode GROUP BY vec_id
    """


@register(
    "pq_encode_trained",
    _pq_trained_oracle(),
    doc="PQ with a LEARNED codebook — one exact k-means refinement "
        "iteration per subspace (assign to the training-free init, "
        "recompute codewords as dimension-exploded decimal-exact "
        "means — the same engine-portable mean recipe as "
        "label_centroids — then re-encode): the quantizer-training "
        "step real IVF-PQ runs, expressed as two argmin passes and "
        "one grouped mean, all shuffles on (m,k,dim)-sized keys. "
        "Empty clusters drop out of the refined book (both engines "
        "agree by construction). tests pin that refined codes "
        "reconstruct vectors no worse than the init.",
)
def pq_encode_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    normed = _normed_vectors(emb)
    cent0 = (normed.filter(F.col("vec_id").isin(*_PQ_CENTROID_IDS))
                   .select((F.col("vec_id") / _PQ_STRIDE).cast("int")
                           .alias("k"),
                           F.col("nv").alias("cv")))
    sq = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0), lambda acc, x: acc + x)
    nv_sub = F.slice("nv", F.col("m") * _PQ_SUB + 1, _PQ_SUB)
    # wide-form assignment (all M distances per (vec, k) row — see
    # _pq_assign_codes); the refined book cb1 below is per-subspace
    # (k-sets can differ per m after empty-cluster dropout) so the
    # re-encode keeps the long form
    assign0 = _codes_long(_pq_assign_codes(normed, cent0))
    # update step: dimension-exploded exact mean per (m, k, dim)
    subvals = (normed.join(assign0, "vec_id")
               .select("m", "k", F.posexplode(nv_sub).alias("dim", "val")))
    q6 = F.floor(F.col("val") * 1000000.0 + 0.5) / 1000000.0
    means = (subvals.groupBy("m", "k", "dim")
                    .agg((F.sum(q6.cast("decimal(38,6)")).cast("double")
                          / F.count("*")).alias("c")))
    cb1 = (means.groupBy("m", "k")
                .agg(F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "c"))),
                    lambda x: x["c"]).alias("c_sub")))
    recode = (normed.crossJoin(F.broadcast(cb1))
              .select("vec_id", "m", "k",
                      sq(nv_sub, F.col("c_sub")).alias("dist"))
              .groupBy("vec_id", "m")
              .agg(F.min(F.struct("dist", "k")).alias("b"))
              .select("vec_id", "m", F.col("b.k").alias("k")))
    from ..functions.core import arr_str
    return (recode.groupBy("vec_id")
                  .agg(arr_str(F.transform(
                      F.array_sort(F.collect_list(F.struct("m", "k"))),
                      lambda x: x["k"])).alias("codes")))


@register(
    "sliding_window_distinct_users",
    """
    WITH expanded AS (
      SELECT e.user_id,
             to_timestamp((epoch_us(e.ts) // 900000000) * 900 - i.i * 900)
               ::TIMESTAMP AS window_start
      FROM events e, (SELECT unnest(range(0, 4)) AS i) i
      WHERE to_timestamp((epoch_us(e.ts) // 900000000) * 900 - i.i * 900)
            ::TIMESTAMP > e.ts - INTERVAL 60 MINUTE
    )
    SELECT window_start,
           window_start + INTERVAL 60 MINUTE AS window_end,
           COUNT(DISTINCT user_id) AS active_users,
           COUNT(*) AS n_events
    FROM expanded GROUP BY window_start
    """,
    doc="Sliding-window DISTINCT aggregation (active users per "
        "trailing hour at 15-minute resolution — the standard DAU/"
        "MAU-style liveness metric): F.window expands each event "
        "into its 4 covering windows, then Catalyst plans the "
        "distinct as expand + two-phase HashAggregate keyed on "
        "(window, user). At 100 TB swap the exact distinct for "
        "approx_count_distinct or merge persisted per-window HLL "
        "sketches (hll_partition_merge) — this is the exact "
        "baseline; the fan-out side scales with span/slide, not "
        "with user cardinality.",
)
def sliding_window_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "60 minutes", "15 minutes"))
             .agg(F.countDistinct("user_id").alias("active_users"),
                  F.count("*").alias("n_events"))
             .select(F.col("window.start").alias("window_start"),
                     F.col("window.end").alias("window_end"),
                     "active_users", "n_events"))




_SEMDEDUP_T = 0.45


def _semdedup_oracle() -> str:
    from .llm_ext import _cosine_sql
    cos = _cosine_sql("a.embedding", "b.embedding")
    return f"""
    WITH {_ivf_assign_sql()},
    cells AS (SELECT vec_id, embedding, c_id FROM assigned WHERE rn = 1),
    prs AS (
      SELECT a.c_id, b.vec_id AS dropped
      FROM cells a JOIN cells b
        ON a.c_id = b.c_id AND a.vec_id < b.vec_id
      WHERE {cos} >= {_SEMDEDUP_T}
    ),
    drops AS (
      SELECT c_id, CAST(COUNT(DISTINCT dropped) AS BIGINT) AS n_dropped
      FROM prs GROUP BY c_id
    ),
    sizes AS (
      SELECT c_id, CAST(COUNT(*) AS BIGINT) AS n_vectors
      FROM cells GROUP BY c_id
    )
    SELECT s.c_id AS cell, s.n_vectors,
           CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped,
           CAST(s.n_vectors - COALESCE(d.n_dropped, 0) AS BIGINT)
             AS n_survivors
    FROM sizes s LEFT JOIN drops d ON s.c_id = d.c_id
    """


@register(
    "semantic_dedup",
    _semdedup_oracle(),
    doc="Semantic deduplication (SemDeDup, Abbas et al. 2023: "
        "cluster-then-cosine): every embedding joins its max-cosine "
        "IVF cell, and WITHIN each cell a vector is dropped when a "
        "lower-id neighbor has cosine >= {t} (the greedy epsilon-ball "
        "keep-first rule; dedup_clusters supplies transitive-closure "
        "semantics when needed). The clustering is what makes it "
        "scale: the quadratic pair scan is confined to one cell, so "
        "cost is sum(|cell|^2) instead of corpus^2 and each cell "
        "dedups in its own partition — at 100 TB cells are the IVF "
        "partitioning already on disk. Output: per-cell funnel "
        "(size, dropped, survivors).".format(t=_SEMDEDUP_T),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import vec_dot, vec_norm
    from ..operators.skew import all_pairs_within_block
    # persist: the assignment subtree feeds pairs AND sizes; norms are
    # precomputed per ROW so the quadratic scan pays one dot product
    # per pair instead of dot + two norms (sqrt(sa)*sqrt(sb) is the
    # same double product either way — bit-identical to the oracle)
    cells = persist(_ivf_assign(spark, sf_dir)
                    .withColumn("nrm", vec_norm(F.col("embedding"))))
    # in-cell all-pairs via bucket fan-out: a plain self-join on c_id
    # caps parallelism at n_cells tasks and each cell's O(n^2) scan
    # serializes — CPU-quadratic skew AQE cannot split
    joined = all_pairs_within_block(cells, "c_id", "vec_id")
    sim = (vec_dot(F.col("a.embedding"), F.col("b.embedding"))
           / (F.col("a.nrm") * F.col("b.nrm")))
    prs = (joined.filter(sim >= _SEMDEDUP_T)
                 .select(F.col("a.c_id").alias("c_id"),
                         F.col("b.vec_id").alias("dropped"))
                 .distinct())
    drops = prs.groupBy("c_id").agg(
        F.count("*").cast("bigint").alias("n_dropped"))
    sizes = cells.groupBy("c_id").agg(
        F.count("*").cast("bigint").alias("n_vectors"))
    # NOTE on the persist above: eager materialization (a checkpoint)
    # would blind the plan audits (tests/test_plan_audit.py pins
    # ROUNDROBIN + _bkt in THIS plan) and execute jobs at build time.
    # The cached subtree is the (vec_id, cell, nrm) assignment — MBs,
    # not data-scale.
    return (sizes.join(drops, "c_id", "left")
            .select(F.col("c_id").alias("cell"), "n_vectors",
                    F.coalesce("n_dropped", F.lit(0).cast("bigint"))
                     .alias("n_dropped"),
                    (F.col("n_vectors")
                     - F.coalesce("n_dropped", F.lit(0).cast("bigint")))
                    .cast("bigint").alias("n_survivors")))


_SEMDEDUP_CAP = 24  # leaf-size target; tiny here so the TEST corpus
                    # exercises the split path — production sets
                    # O(4096) (the knob is work-per-leaf, |leaf|^2)


def _semdedup_capped_oracle() -> str:
    from .llm_ext import _cosine_sql, _h32_sql
    cos_vs = _cosine_sql("v.embedding", "s.sv")
    cos_ab = _cosine_sql("a.embedding", "b.embedding")
    seed_h = _h32_sql("'sd2|' || vec_id::VARCHAR")
    return f"""
    WITH {_ivf_assign_sql()},
    cells AS (SELECT vec_id, embedding, c_id FROM assigned WHERE rn = 1),
    ks AS (
      SELECT c_id,
             CASE WHEN COUNT(*) > {_SEMDEDUP_CAP}
                  THEN CAST(ceil(COUNT(*) / {_SEMDEDUP_CAP}.0) AS INT)
                  ELSE 0 END AS k2
      FROM cells GROUP BY c_id
    ),
    rk AS (
      SELECT cells.*,
             row_number() OVER (PARTITION BY c_id
                                ORDER BY {seed_h}, vec_id) AS seed_rank
      FROM cells
    ),
    seeds AS (
      SELECT rk.c_id, rk.vec_id AS seed_id, rk.embedding AS sv
      FROM rk JOIN ks USING (c_id)
      WHERE ks.k2 > 0 AND rk.seed_rank <= ks.k2
    ),
    sc AS (
      SELECT v.vec_id, s.seed_id, {cos_vs} AS sim
      FROM cells v JOIN seeds s ON s.c_id = v.c_id
    ),
    sa AS (
      SELECT vec_id, seed_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, seed_id) AS rn2
      FROM sc
    ),
    leafed AS (
      SELECT v.vec_id, v.embedding, v.c_id,
             COALESCE(sa.seed_id, -1) AS sub
      FROM cells v
      LEFT JOIN (SELECT vec_id, seed_id FROM sa WHERE rn2 = 1) sa
        USING (vec_id)
    ),
    prs AS (
      SELECT DISTINCT b.c_id, b.vec_id AS dropped
      FROM leafed a JOIN leafed b
        ON a.c_id = b.c_id AND a.sub = b.sub AND a.vec_id < b.vec_id
      WHERE {cos_ab} >= {_SEMDEDUP_T}
    ),
    leafstats AS (
      SELECT c_id, sub, COUNT(*) AS ln FROM leafed GROUP BY 1, 2
    ),
    cellstats AS (
      SELECT c_id, CAST(SUM(ln) AS BIGINT) AS n_vectors,
             CAST(COUNT(*) AS BIGINT) AS n_leaves,
             CAST(MAX(ln) AS BIGINT) AS max_leaf_size
      FROM leafstats GROUP BY c_id
    ),
    drops AS (
      SELECT c_id, CAST(COUNT(*) AS BIGINT) AS n_dropped
      FROM prs GROUP BY c_id
    )
    SELECT c.c_id AS cell, c.n_vectors, c.n_leaves, c.max_leaf_size,
           CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped,
           CAST(c.n_vectors - COALESCE(d.n_dropped, 0) AS BIGINT)
             AS n_survivors
    FROM cellstats c LEFT JOIN drops d ON c.c_id = d.c_id
    """


@register(
    "semantic_dedup_capped",
    _semdedup_capped_oracle(),
    doc="SemDeDup with a BOUNDED leaf size — the corpus-growth fix "
        "for semantic_dedup's one honest scale hole: its IVF cell "
        "count is fixed, so at 100x the corpus each cell holds 100x "
        "the vectors and the in-cell all-pairs scan does 10,000x the "
        "work (measured super-linear in BENCH_scale100.json). Here "
        "any cell larger than the cap splits into ceil(n/cap) "
        "sub-cells: deterministic hash-ring seed vectors (lowest "
        "h32('sd2|'||vec_id) — the kcenter_coreset seeding trick, a "
        "one-round online-kmeans refinement), each vector re-assigned "
        "to its max-cosine seed (tie -> lowest seed id), and the "
        "epsilon-ball keep-lowest-id rule runs per LEAF. Work per "
        "leaf is ~cap^2 regardless of corpus size, so total dedup "
        "cost is N*cap instead of N^2/nlist; the assignment adds "
        "N*ceil(n_cell/cap) dots per cell — each split level divides "
        "the quadratic constant by the fan-out, which is how "
        "production hierarchical-kmeans IVF builds bound both sides. "
        "The trade (same as raising nlist in SemDeDup itself) is "
        "recall: near-dup pairs straddling a leaf boundary are "
        "missed; max_leaf_size is emitted so the balance assumption "
        "is auditable, and the flat query remains the exact-recall "
        "reference at small N.",
)
def semantic_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    from ..functions.vectors import vec_dot, vec_norm
    from ..operators.hashing import h32
    from ..operators.skew import all_pairs_within_block
    cells = persist(_ivf_assign(spark, sf_dir)
                    .withColumn("nrm", vec_norm(F.col("embedding"))))
    ks = cells.groupBy("c_id").agg(
        F.when(F.count("*") > _SEMDEDUP_CAP,
               F.ceil(F.count("*") / F.lit(float(_SEMDEDUP_CAP)))
                .cast("int"))
         .otherwise(F.lit(0)).alias("k2"))
    # deterministic per-cell seed ranking (hash-ring order); the
    # window partitions by cell, so at scale this is cell-parallel
    wseed = Window.partitionBy("c_id").orderBy(
        h32(F.concat(F.lit("sd2|"), F.col("vec_id").cast("string"))),
        "vec_id")
    seeds = (cells.withColumn("seed_rank", F.row_number().over(wseed))
                  .join(ks, "c_id")
                  .filter((F.col("k2") > 0)
                          & (F.col("seed_rank") <= F.col("k2")))
                  .select(F.col("c_id").alias("s_cell"),
                          F.col("vec_id").alias("seed_id"),
                          F.col("embedding").alias("sv"),
                          F.col("nrm").alias("snrm")))
    # re-assign EVERY vector of a split cell to its max-cosine seed;
    # vectors in small cells keep sub = -1 (the cell is its own leaf)
    scored = (cells.join(seeds, cells.c_id == seeds.s_cell)
                   .withColumn("sim",
                               vec_dot(F.col("embedding"), F.col("sv"))
                               / (F.col("nrm") * F.col("snrm"))))
    wbest = Window.partitionBy("vec_id").orderBy(F.desc("sim"),
                                                 F.asc("seed_id"))
    subbed = (scored.withColumn("rn2", F.row_number().over(wbest))
                    .filter(F.col("rn2") == 1)
                    .select("c_id", "vec_id", "embedding", "nrm",
                            F.col("seed_id").alias("sub")))
    whole = (cells.join(ks, "c_id").filter(F.col("k2") == 0)
                  .select("c_id", "vec_id", "embedding", "nrm",
                          F.lit(-1).cast("bigint").alias("sub")))
    leaves = persist(subbed.unionByName(whole)
                           .withColumn("leaf",
                                       F.concat_ws("|", "c_id", "sub")))
    joined = all_pairs_within_block(leaves, "leaf", "vec_id")
    sim = (vec_dot(F.col("a.embedding"), F.col("b.embedding"))
           / (F.col("a.nrm") * F.col("b.nrm")))
    prs = (joined.filter(sim >= _SEMDEDUP_T)
                 .select(F.col("b.c_id").alias("c_id"),
                         F.col("b.vec_id").alias("dropped"))
                 .distinct())
    drops = prs.groupBy("c_id").agg(
        F.count("*").cast("bigint").alias("n_dropped"))
    leafstats = leaves.groupBy("c_id", "leaf").agg(
        F.count("*").alias("ln"))
    cellstats = leafstats.groupBy("c_id").agg(
        F.sum("ln").cast("bigint").alias("n_vectors"),
        F.count("*").cast("bigint").alias("n_leaves"),
        F.max("ln").cast("bigint").alias("max_leaf_size"))
    return (cellstats.join(drops, "c_id", "left")
            .select(F.col("c_id").alias("cell"), "n_vectors", "n_leaves",
                    "max_leaf_size",
                    F.coalesce("n_dropped", F.lit(0).cast("bigint"))
                     .alias("n_dropped"),
                    (F.col("n_vectors")
                     - F.coalesce("n_dropped", F.lit(0).cast("bigint")))
                    .cast("bigint").alias("n_survivors")))


@register(
    "hard_negative_mining",
    f"""
    WITH {_ivf_assign_sql()},
    cells AS (
      SELECT a.vec_id, a.embedding, a.c_id, e.label
      FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id
      WHERE a.rn = 1
    ),
    q AS (SELECT vec_id AS q_id, embedding AS qv, c_id AS q_cell,
                 label AS q_label
          FROM cells WHERE vec_id < 10),
    sims AS (
      SELECT q.q_id, c.vec_id AS neighbor_id,
             CASE WHEN c.label = q.q_label THEN 0 ELSE 1 END AS is_negative,
             list_sum(list_transform(
                 list_zip(q.qv::DOUBLE[], c.embedding::DOUBLE[]),
                 p -> p[1] * p[2]))
               / (sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in q.qv]))
                  * sqrt(list_sum([x::DOUBLE * x::DOUBLE
                                   for x in c.embedding]))) AS cosine
      FROM q JOIN cells c ON c.c_id = q.q_cell AND c.vec_id <> q.q_id
    )
    SELECT q_id, neighbor_id, is_negative, rank, round(cosine, 6) AS cosine
    FROM (SELECT q_id, neighbor_id, is_negative, cosine,
                 row_number() OVER (PARTITION BY q_id, is_negative
                                    ORDER BY cosine DESC, neighbor_id)
                   AS rank
          FROM sims)
    WHERE rank <= 3
    """,
    doc="Hard-negative mining for contrastive training [EXT]: for "
        "each query vector, the highest-cosine candidates from its "
        "IVF cell split by label agreement — top-3 same-label "
        "(positives) and top-3 different-label (HARD negatives, the "
        "near-miss samples that dominate the contrastive gradient; "
        "random negatives are trivially easy). Candidate generation "
        "is the cell equi-join (cost nprobe/nlist of the corpus per "
        "query, identical to ann_ivf_topk); the split is one extra "
        "grouped window over (query, side). At 100 TB the corpus is "
        "cell-partitioned on disk, so mining a batch of queries reads "
        "only the probed cells — this is how retrieval-model training "
        "data (e.g. DPR-style) is mined at corpus scale.",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.vectors import vec_dot, vec_norm
    labels = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "label")
    cells = (_ivf_assign(spark, sf_dir)
             .join(labels, "vec_id")
             .withColumn("nrm", vec_norm(F.col("embedding"))))
    q = (cells.filter(F.col("vec_id") < 10)
              .select(F.col("vec_id").alias("q_id"),
                      F.col("embedding").alias("qv"),
                      F.col("c_id").alias("q_cell"),
                      F.col("label").alias("q_label"),
                      F.col("nrm").alias("qnrm")))
    sims = (cells.join(F.broadcast(q), (F.col("c_id") == F.col("q_cell"))
                       & (F.col("vec_id") != F.col("q_id")))
                 .select("q_id", F.col("vec_id").alias("neighbor_id"),
                         F.when(F.col("label") == F.col("q_label"), 0)
                          .otherwise(1).cast("int").alias("is_negative"),
                         (vec_dot(F.col("qv"), F.col("embedding"))
                          / (F.col("qnrm") * F.col("nrm")))
                         .alias("cosine")))
    w = Window.partitionBy("q_id", "is_negative") \
              .orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (sims.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= 3)
                .select("q_id", "neighbor_id", "is_negative", "rank",
                        F.round("cosine", 6).alias("cosine")))
