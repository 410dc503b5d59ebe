"""[EXT] fifth curation wave: sorted-neighborhood dedup blocking,
weighted priority sampling, and corpus-mix drift auditing.

Three operators a training-data curation team runs that the existing
registry did not yet cover:

- ``sorted_neighborhood_pairs``: the THIRD near-dup blocking family
  next to LSH banding (minhash_lsh_pairs) and SimHash bands
  (simhash_dup_pairs) — the classic sorted-neighborhood method
  (Hernandez & Stolfo, SIGMOD'95): sort the corpus by a fuzzy key,
  compare only records within a fixed-width sliding window. Its scale
  property is the opposite of LSH's: candidate fan-out per record is
  bounded by the window width *by construction* (w-1 pairs each), so
  a boilerplate template that would explode an LSH bucket costs
  exactly the same as any other record here.
- ``quality_weighted_sample``: weighted sampling without replacement
  as PRIORITY SAMPLING (Duffield, Lund & Thorup, JACM'07): priority
  q_i = w_i / u_i with u_i a deterministic hash uniform, keep the
  top-K priorities per stratum. Inclusion probability rises with
  weight (min(1, w_i/tau) for the K-th threshold tau) — the
  "sample proportional to quality/length score" step of corpus
  assembly, reproducible bit-for-bit across engines and re-runs
  because u_i is a hash, not rand().
- ``chi2_drift_audit``: two-sample chi-square homogeneity test between
  two crawl snapshots' language mixes — the drift gate run before
  blending a new crawl into the training mixture. Exact INTEGER
  arithmetic end to end (the classic chi-square identity
  (o1*N2 - o2*N1)^2 / (N1*N2*(o1+o2)) has an all-integer numerator),
  so the statistic is engine-portable with no float folding anywhere.

Determinism policy (registry docstring): hash uniforms come from the
portable md5-based h32; every double in an output column is either an
exactly-representable integer or the result of ONE IEEE-exact
operation on exactly-representable inputs (a single multiply below
2^53 followed by a single correctly-rounded division).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.core import rebalance
from ..functions.text import word_ngrams, word_tokens
from ..operators.cache import persist
from ..operators.hashing import h32
from ..operators.prefix import with_global_running
from ..sources.registry import load_table
from . import register
from .llm_ext import _h32_sql, _shingles_sql, _tok_sql

# ---------------------------------------------------------------------------
# Sorted-neighborhood dedup blocking
# ---------------------------------------------------------------------------

_SNM_WINDOW = 4          # compare each record to the next w-1 = 3
_SNM_KEY_LEN = 24        # fuzzy sort key: first 24 chars of norm text
_SNM_THRESHOLD = 0.3     # same Jaccard floor as the LSH/exact family


@register(
    "sorted_neighborhood_pairs",
    f"""
    WITH base AS (
      SELECT doc_id, lang, trim(lower(text)) AS t, {_tok_sql()} AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, lang, substr(t, 1, {_SNM_KEY_LEN}) AS k,
             {_shingles_sql()} AS sh
      FROM base WHERE len(toks) >= 3
    ),
    keyed AS (
      SELECT doc_id, lang, k,
             list_distinct([{_h32_sql('s')} for s in sh]) AS hsd
      FROM sh
    ),
    ranked AS (
      SELECT doc_id, hsd, len(hsd) AS n,
             row_number() OVER (ORDER BY lang, k, doc_id) AS rnk
      FROM keyed
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(b.rnk - a.rnk AS INT) AS rank_gap,
           len(list_intersect(a.hsd, b.hsd))::DOUBLE
             / (a.n + b.n - len(list_intersect(a.hsd, b.hsd)))::DOUBLE
             AS jaccard
    FROM ranked a JOIN ranked b
      ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + {_SNM_WINDOW - 1}
    WHERE len(list_intersect(a.hsd, b.hsd))::DOUBLE
             / (a.n + b.n - len(list_intersect(a.hsd, b.hsd)))::DOUBLE
          >= {_SNM_THRESHOLD}
    """,
    doc="Sorted-neighborhood dedup blocking (Hernandez & Stolfo "
        "SIGMOD'95) — the third candidate-generation family next to "
        "LSH banding and SimHash bands: records sort globally by a "
        "fuzzy key (lang, first 24 chars of normalized text, doc_id "
        "tiebreak), and each record is compared only to the next w-1=3 "
        "records in that order, verified by exact hashed-shingle "
        "Jaccard >= 0.3. The global rank comes from the distributed "
        "two-pass prefix rank (operators/prefix.py — never a "
        "single-partition window), and the sliding window is ONE "
        "explode to w-1 rank offsets + ONE equi-join on rank, so the "
        "shuffle carries (8-byte rank, shingle hashes) and per-record "
        "candidate fan-out is w-1 BY CONSTRUCTION — a hot boilerplate "
        "template that would explode an LSH bucket costs the same as "
        "any other record here, which is exactly why production ER "
        "systems run multi-pass SNM (different keys per pass) on "
        "skew-prone corpora. The miss mode is the mirror image: "
        "near-dups whose first 24 chars differ never meet — run it as "
        "a complementary pass next to minhash_lsh_pairs, not a "
        "replacement.",
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = word_tokens(F.lower(F.col("text")))
    hsd = F.array_distinct(F.transform(word_ngrams(F.col("text"), 3), h32))
    # rebalance: the shingle projection (md5 per shingle) is
    # compute-bound and the input is few/large parquet row groups —
    # round-robin width first, same policy as minhash_signatures. The
    # projection is computed once: with_global_running persists its
    # ranged frame, and both self-join sides read that cache.
    base = (rebalance(docs.filter(F.size(toks) >= 3))
                .select("doc_id", "lang",
                        F.substring(F.trim(F.lower(F.col("text"))),
                                    1, _SNM_KEY_LEN).alias("k"),
                        hsd.alias("hsd")))
    ranked = with_global_running(
        base, [F.col("lang"), F.col("k"), F.col("doc_id")], rank="rnk")
    left = ranked.select(F.col("doc_id").alias("doc_a"),
                         F.col("hsd").alias("h_a"),
                         F.col("rnk").alias("r_a"))
    right = ranked.select(F.col("doc_id").alias("doc_b"),
                          F.col("hsd").alias("h_b"),
                          F.col("rnk").alias("r_b"))
    probe = left.withColumn(
        "r_b", F.explode(F.array(*[F.col("r_a") + F.lit(d)
                                   for d in range(1, _SNM_WINDOW)])))
    cand = probe.join(right, "r_b")
    common = F.size(F.array_intersect("h_a", "h_b"))
    jac = (common.cast("double")
           / (F.size("h_a") + F.size("h_b") - common).cast("double"))
    return (cand.select("doc_a", "doc_b",
                        (F.col("r_b") - F.col("r_a")).cast("int")
                        .alias("rank_gap"),
                        jac.alias("jaccard"))
                .filter(F.col("jaccard") >= _SNM_THRESHOLD))


# ---------------------------------------------------------------------------
# Weighted priority sampling
# ---------------------------------------------------------------------------

_PRIO_K = 20            # kept per stratum
_H32_RANGE = 4294967296  # 2^32


@register(
    "quality_weighted_sample",
    f"""
    WITH base AS (
      SELECT doc_id, lang,
             greatest(CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(string_split_regex(trim(text), '\\s+'))
                      END, 1) AS weight,
             {_h32_sql('doc_id::VARCHAR')} AS h
      FROM documents
    ),
    prio AS (
      SELECT doc_id, lang, CAST(weight AS BIGINT) AS weight,
             (weight::DOUBLE * {_H32_RANGE}.0) / (h + 1)::DOUBLE AS priority
      FROM base
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY priority DESC, doc_id) AS rk
      FROM prio
    )
    SELECT lang, doc_id, weight, priority, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {_PRIO_K}
    """,
    doc="Weighted sampling without replacement as PRIORITY SAMPLING "
        "(Duffield, Lund & Thorup JACM'07): each doc gets priority "
        "q = w/u where w is its token count (stand-in for any "
        "quality/length score) and u = (h32(doc_id)+1)/2^32 is a "
        "deterministic hash uniform; the top-K=20 priorities per "
        "language are the sample — inclusion probability min(1, w/tau) "
        "for the stratum's (K+1)-th priority tau, i.e. long/high-"
        "quality docs are proportionally favored, unlike the uniform "
        "domain_cap_sample. Cross-engine exact because every float op "
        "is IEEE-pinned: w*2^32 is one exact double multiply (w < "
        "2^21), the division by (h+1) is one correctly-rounded op, so "
        "both engines order identical priorities (doc_id tiebreak). "
        "At 100 TB this is one map-side projection + a per-stratum "
        "top-K window (partitioned by lang, shuffling 24-byte rows); "
        "swapping rand() in would cost reproducibility — the audit "
        "trail of WHICH docs entered the mix is the whole point.",
)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = F.greatest(F.size(word_tokens(F.col("text"))).cast("bigint"),
                   F.lit(1).cast("bigint"))
    h = h32(F.col("doc_id").cast("string"))
    prio = docs.select(
        "doc_id", "lang", w.alias("weight"),
        ((w.cast("double") * F.lit(float(_H32_RANGE)))
         / (h + 1).cast("double")).alias("priority"))
    win = Window.partitionBy("lang").orderBy(F.desc("priority"), "doc_id")
    return (prio.withColumn("rk", F.row_number().over(win))
                .filter(F.col("rk") <= _PRIO_K)
                .select("lang", "doc_id", "weight", "priority", "rk"))


# ---------------------------------------------------------------------------
# Corpus-mix drift audit
# ---------------------------------------------------------------------------

_CHI2_PPM = 1_000_000  # contribution quantum (1e-6 units)


@register(
    "chi2_drift_audit",
    f"""
    WITH b AS (
      SELECT lang,
             CAST(SUM(CASE WHEN CAST(substr(source, 4) AS INT) < 10
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN CAST(substr(source, 4) AS INT) >= 10
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM documents GROUP BY lang
    ),
    t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS na_tot,
                 CAST(SUM(n_b) AS BIGINT) AS nb_tot FROM b)
    SELECT lang, n_a, n_b,
           CAST(n_a * nb_tot - n_b * na_tot AS BIGINT) AS scaled_diff,
           CAST(((n_a * nb_tot - n_b * na_tot)::HUGEINT
                 * (n_a * nb_tot - n_b * na_tot)::HUGEINT
                 * {_CHI2_PPM})
                // (na_tot::HUGEINT * nb_tot::HUGEINT
                    * (n_a + n_b)::HUGEINT) AS BIGINT) AS chi2_contrib_ppm
    FROM b CROSS JOIN t
    """,
    doc="Corpus-mix drift audit: the two-sample chi-square homogeneity "
        "test between two crawl snapshots' language distributions "
        "(sources src0-src9 = snapshot A, src10-src19 = snapshot B — "
        "the gate a curation pipeline runs before blending a new crawl "
        "into the training mixture; a large statistic means the new "
        "snapshot's mix shifted and the sampling weights need "
        "re-deriving). Exact integer arithmetic end to end via the "
        "classic identity chi2 = sum (o1*N2 - o2*N1)^2 / "
        "(N1*N2*(o1+o2)): the signed scaled difference is a BIGINT, "
        "its square rides DECIMAL(38,0) (HUGEINT in the oracle), and "
        "each bin's contribution is emitted as an integer in 1e-6 "
        "units via integral division — no float folding anywhere, so "
        "the audit is bit-portable. At 100 TB the corpus pass is one "
        "partial+final count aggregate producing |langs| rows; the "
        "1-row totals broadcast back (BroadcastNestedLoop on a scalar, "
        "never a cartesian). The chi-square quantile comparison "
        "happens downstream — this emits the per-bin decomposition so "
        "the drifting bins are visible, not just the verdict.",
)
def chi2_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    snap_a = (F.substring(F.col("source"), 4, 10).cast("int") < 10)
    b = docs.groupBy("lang").agg(
        F.sum(F.when(snap_a, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(snap_a, 0).otherwise(1)).cast("bigint").alias("n_b"))
    t = b.agg(F.sum("n_a").cast("bigint").alias("na_tot"),
              F.sum("n_b").cast("bigint").alias("nb_tot"))
    j = b.crossJoin(F.broadcast(t))
    d = (F.col("n_a") * F.col("nb_tot")
         - F.col("n_b") * F.col("na_tot")).cast("bigint")
    dd = d.cast("decimal(38,0)")
    den = (F.col("na_tot").cast("decimal(38,0)")
           * F.col("nb_tot").cast("decimal(38,0)")
           * (F.col("n_a") + F.col("n_b")).cast("decimal(38,0)"))
    contrib = F.expr(
        f"CAST((CAST(scaled_diff AS DECIMAL(38,0)) * CAST(scaled_diff AS "
        f"DECIMAL(38,0)) * {_CHI2_PPM}) DIV den AS BIGINT)")
    return (j.select("lang", "n_a", "n_b", d.alias("scaled_diff"),
                     den.alias("den"))
             .select("lang", "n_a", "n_b", "scaled_diff",
                     contrib.alias("chi2_contrib_ppm")))


# ---------------------------------------------------------------------------
# kNN graph construction (mutual-edge filtered)
# ---------------------------------------------------------------------------

_KNN_K = 3


def _knn_oracle() -> str:
    from .llm_ext import _cosine_sql, _hyperplane_sql
    return f"""
    WITH e AS (
      SELECT vec_id, embedding, {_hyperplane_sql('embedding')} AS bucket
      FROM embeddings
    ),
    sims AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             {_cosine_sql('a.embedding', 'b.embedding')} AS cosine
      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT src, dst, cosine,
             row_number() OVER (PARTITION BY src
                                ORDER BY cosine DESC, dst) AS rank
      FROM sims
    ),
    edges AS (SELECT src, dst, rank, cosine FROM ranked
              WHERE rank <= {_KNN_K})
    SELECT e1.src AS vec_a, e1.dst AS vec_b, CAST(e1.rank AS INT) AS rank,
           round(e1.cosine, 6) AS cosine,
           (e2.src IS NOT NULL) AS mutual
    FROM edges e1 LEFT JOIN edges e2
      ON e2.src = e1.dst AND e2.dst = e1.src
    """


def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed kNN edge list (src, dst, rank, cosine) — shared by the
    graph report and the semantic-cluster composition. Persisted: the
    mutuality check references it twice."""
    from ..functions.vectors import vec_norm
    from ..operators.similarity import hyperplane_bucket, _pair_cosine
    from .llm_ext import HYPERPLANES

    emb = rebalance(load_table(spark, sf_dir, "embeddings"))
    e = persist(emb.select("vec_id", "embedding",
                           hyperplane_bucket(F.col("embedding"), HYPERPLANES)
                           .alias("bucket"),
                           vec_norm(F.col("embedding")).alias("_nrm")))
    a = e.select(F.col("vec_id").alias("src"),
                 F.col("embedding").alias("_qv"),
                 F.col("bucket"), F.col("_nrm").alias("_qnrm"))
    b = e.select(F.col("vec_id").alias("dst"),
                 F.col("embedding").alias("_cv"),
                 F.col("bucket").alias("_cb"), F.col("_nrm").alias("_cnrm"))
    sims = (a.join(b, (F.col("bucket") == F.col("_cb"))
                   & (F.col("src") != F.col("dst")))
             .select("src", "dst",
                     _pair_cosine("_qv", "_cv", "_qnrm", "_cnrm")
                     .alias("cosine")))
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    return persist(sims.withColumn("rank", F.row_number().over(w))
                       .filter(F.col("rank") <= _KNN_K)
                       .select("src", "dst", "rank", "cosine"))


@register(
    "knn_graph_mutual",
    _knn_oracle(),
    doc="kNN-graph construction over the embedding corpus — the input "
        "structure of NN-Descent refinement, graph-clustering dedup, "
        "and manifold methods: EVERY vector (not a query subset, "
        "unlike ann_lsh_topk) gets its top-3 cosine neighbors among "
        "its LSH bucket's candidates, and each directed edge is "
        "flagged MUTUAL when its reverse edge also made the other "
        "endpoint's top-3 — the standard robust-edge filter (one-way "
        "edges into hubs are the noise mutual-kNN prunes before "
        "community detection). Plan shape: candidates come from a "
        "bucket equi self-join (corpus^2/2^8 pairs, hash join, AQE "
        "splits hot buckets — never all-pairs), per-source top-k is a "
        "bucket-local window on src, and the mutuality check is one "
        "self-join of the tiny edge table on the reversed pair key. "
        "At 100 TB the corpus is bucket-partitioned so the self-join "
        "is co-located, and edges are 3 rows x 20 bytes per vector "
        "regardless of dimension — the graph, not the vectors, is "
        "what downstream clustering shuffles.",
)
def knn_graph_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _knn_edges(spark, sf_dir)
    rev = edges.select(F.col("src").alias("_rsrc"),
                       F.col("dst").alias("_rdst"))
    out = edges.join(rev, (F.col("_rsrc") == F.col("dst"))
                     & (F.col("_rdst") == F.col("src")), "left")
    return out.select(F.col("src").alias("vec_a"),
                      F.col("dst").alias("vec_b"),
                      F.col("rank").cast("int").alias("rank"),
                      F.round("cosine", 6).alias("cosine"),
                      F.col("_rsrc").isNotNull().alias("mutual"))


_KNN_POOL_CAP = 4  # per-bucket candidate-pool bound; tiny so the TEST
                   # corpus (~2-20 vectors/bucket) exercises the cap —
                   # production sets O(few thousand), sized so
                   # N*cap*dim fits the scoring stage's CPU budget


def _knn_capped_oracle() -> str:
    from .llm_ext import _cosine_sql, _h32_sql, _hyperplane_sql
    pool_h = _h32_sql("'knnpool|' || vec_id::VARCHAR")
    return f"""
    WITH e AS (
      SELECT vec_id, embedding, {_hyperplane_sql('embedding')} AS bucket
      FROM embeddings
    ),
    pooled AS (
      SELECT e.*, row_number() OVER (PARTITION BY bucket
                                     ORDER BY {pool_h}, vec_id) AS pr
      FROM e
    ),
    pool AS (SELECT vec_id, embedding, bucket FROM pooled
             WHERE pr <= {_KNN_POOL_CAP}),
    sims AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             {_cosine_sql('a.embedding', 'b.embedding')} AS cosine
      FROM e a JOIN pool b ON a.bucket = b.bucket
                          AND a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT src, dst, cosine,
             row_number() OVER (PARTITION BY src
                                ORDER BY cosine DESC, dst) AS rank
      FROM sims
    ),
    edges AS (SELECT src, dst, rank, cosine FROM ranked
              WHERE rank <= {_KNN_K})
    SELECT e1.src AS vec_a, e1.dst AS vec_b, CAST(e1.rank AS INT) AS rank,
           round(e1.cosine, 6) AS cosine,
           (e2.src IS NOT NULL) AS mutual
    FROM edges e1 LEFT JOIN edges e2
      ON e2.src = e1.dst AND e2.dst = e1.src
    """


@register(
    "knn_graph_mutual_capped",
    _knn_capped_oracle(),
    doc="kNN graph with a BOUNDED per-bucket candidate pool — the "
        "corpus-growth fix for knn_graph_mutual's measured mild "
        "super-linearity (SCALE.md: 15.1x between the 10x and 100x "
        "replica copies — LSH bucket occupancy grows with the corpus, "
        "so within-bucket candidate scoring carries a quadratic "
        "term). Each bucket keeps a deterministic hash-ring pool of "
        "at most cap vectors (lowest h32('knnpool|'||vec_id) — the "
        "same seeding trick as semantic_dedup_capped and "
        "kcenter_coreset); EVERY vector still gets ranked top-k "
        "neighbors, but only pool members serve as candidates, so "
        "scoring cost is N*cap per bucket — linear in corpus at fixed "
        "cap. The recall trade is explicit: neighbors outside the "
        "pool are missed (the pool is a uniform per-bucket coreset), "
        "and MUTUAL edges can only form between pool members, since "
        "a reverse edge must originate from a pool vector — at the "
        "test SFs the cap bites only on the hottest buckets, and at "
        "production cap sizes the pool IS the bucket for all but "
        "template-explosion hubs, which are exactly the vectors a "
        "robust-edge filter wants deweighted.",
)
def knn_graph_mutual_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import vec_norm
    from ..operators.hashing import h32
    from ..operators.similarity import hyperplane_bucket, _pair_cosine
    from .llm_ext import HYPERPLANES

    emb = rebalance(load_table(spark, sf_dir, "embeddings"))
    # persisted: the pool and query sides both read it
    e = persist(emb.select("vec_id", "embedding",
                           hyperplane_bucket(F.col("embedding"), HYPERPLANES)
                           .alias("bucket"),
                           vec_norm(F.col("embedding")).alias("_nrm")))
    wpool = Window.partitionBy("bucket").orderBy(
        h32(F.concat(F.lit("knnpool|"), F.col("vec_id").cast("string"))),
        "vec_id")
    pool = (e.withColumn("pr", F.row_number().over(wpool))
             .filter(F.col("pr") <= _KNN_POOL_CAP)
             .select(F.col("vec_id").alias("dst"),
                     F.col("embedding").alias("_cv"),
                     F.col("bucket").alias("_cb"),
                     F.col("_nrm").alias("_cnrm")))
    a = e.select(F.col("vec_id").alias("src"),
                 F.col("embedding").alias("_qv"),
                 F.col("bucket"), F.col("_nrm").alias("_qnrm"))
    sims = (a.join(pool, (F.col("bucket") == F.col("_cb"))
                   & (F.col("src") != F.col("dst")))
             .select("src", "dst",
                     _pair_cosine("_qv", "_cv", "_qnrm", "_cnrm")
                     .alias("cosine")))
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    # persisted like _knn_edges: the mutuality check reads the edge
    # table twice (forward + reversed), and without the pin each side
    # re-runs the N x cap scoring join over the cached e — the edge
    # table is <= k rows x 20 bytes per vector, the cheap thing to pin
    edges = persist(sims.withColumn("rank", F.row_number().over(w))
                        .filter(F.col("rank") <= _KNN_K)
                        .select("src", "dst", "rank", "cosine"))
    rev = edges.select(F.col("src").alias("_rsrc"),
                       F.col("dst").alias("_rdst"))
    out = edges.join(rev, (F.col("_rsrc") == F.col("dst"))
                     & (F.col("_rdst") == F.col("src")), "left")
    return out.select(F.col("src").alias("vec_a"),
                      F.col("dst").alias("vec_b"),
                      F.col("rank").cast("int").alias("rank"),
                      F.round("cosine", 6).alias("cosine"),
                      F.col("_rsrc").isNotNull().alias("mutual"))


def _knn_cap_recall_sql() -> str:
    from .llm_ext import _cosine_sql, _h32_sql, _hyperplane_sql
    pool_h = _h32_sql("'knnpool|' || vec_id::VARCHAR")
    return f"""
    WITH e AS (
      SELECT vec_id, embedding, {_hyperplane_sql('embedding')} AS bucket
      FROM embeddings
    ),
    fsims AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             {_cosine_sql('a.embedding', 'b.embedding')} AS cosine
      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    fedges AS (
      SELECT src, dst FROM (
        SELECT src, dst, row_number() OVER (PARTITION BY src
                         ORDER BY cosine DESC, dst) AS rank FROM fsims)
      WHERE rank <= {_KNN_K}
    ),
    fmut AS (
      SELECT DISTINCT least(e1.src, e1.dst) AS a,
                      greatest(e1.src, e1.dst) AS b
      FROM fedges e1 JOIN fedges e2
        ON e2.src = e1.dst AND e2.dst = e1.src
    ),
    pooled AS (
      SELECT e.*, row_number() OVER (PARTITION BY bucket
                                     ORDER BY {pool_h}, vec_id) AS pr
      FROM e
    ),
    pool AS (SELECT vec_id, embedding, bucket FROM pooled
             WHERE pr <= {_KNN_POOL_CAP}),
    csims AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             {_cosine_sql('a.embedding', 'b.embedding')} AS cosine
      FROM e a JOIN pool b ON a.bucket = b.bucket
                          AND a.vec_id <> b.vec_id
    ),
    cedges AS (
      SELECT src, dst FROM (
        SELECT src, dst, row_number() OVER (PARTITION BY src
                         ORDER BY cosine DESC, dst) AS rank FROM csims)
      WHERE rank <= {_KNN_K}
    ),
    cmut AS (
      SELECT DISTINCT least(e1.src, e1.dst) AS a,
                      greatest(e1.src, e1.dst) AS b
      FROM cedges e1 JOIN cedges e2
        ON e2.src = e1.dst AND e2.dst = e1.src
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM fmut) AS n_flat_mutual,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cmut) AS n_capped_mutual,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM fmut JOIN cmut USING (a, b)) AS n_common,
           (SELECT COUNT(*) FROM fmut JOIN cmut USING (a, b))::DOUBLE
             / NULLIF((SELECT COUNT(*) FROM fmut), 0)::DOUBLE AS recall
    """


@register(
    "knn_cap_recall_audit",
    _knn_cap_recall_sql(),
    doc="CALIBRATION AUDIT (audit-tagged, like ivf_recall_audit): how "
        "much of the flat kNN build's mutual-edge set the bounded-"
        "candidate-pool variant recovers — the recall side of the "
        "linear-cost trade knn_graph_mutual_capped makes. Mutual "
        "edges are canonicalized undirected (least/greatest) and the "
        "single output row reports flat count, capped count, overlap, "
        "and recall. Run once per (corpus, cap) choice to size "
        "_KNN_POOL_CAP, exactly as the IVF audit sizes nprobe; not a "
        "serving query (it executes the deliberately-quadratic flat "
        "build, which is the thing the cap exists to avoid).",
)
def knn_cap_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = knn_graph_mutual(spark, sf_dir).filter("mutual").select(
        F.least("vec_a", "vec_b").alias("a"),
        F.greatest("vec_a", "vec_b").alias("b")).distinct()
    capped = knn_graph_mutual_capped(spark, sf_dir).filter(
        "mutual").select(
        F.least("vec_a", "vec_b").alias("a"),
        F.greatest("vec_a", "vec_b").alias("b")).distinct()
    # fully lazy: three single-row aggregates cross-joined (each side
    # broadcasts one row — the scalar-subquery pattern used throughout)
    nf = flat.agg(F.count("*").cast("bigint").alias("n_flat_mutual"))
    nc = capped.agg(F.count("*").cast("bigint")
                     .alias("n_capped_mutual"))
    co = (flat.join(capped, ["a", "b"])
              .agg(F.count("*").cast("bigint").alias("n_common")))
    return (nf.crossJoin(nc).crossJoin(co)
              .select("n_flat_mutual", "n_capped_mutual", "n_common",
                      (F.col("n_common").cast("double")
                       / F.nullif(F.col("n_flat_mutual"), F.lit(0))
                          .cast("double")).alias("recall")))


def _knn_cte() -> str:
    """Shared oracle CTE: the directed kNN edge list (same constants
    as knn_graph_mutual)."""
    from .llm_ext import _cosine_sql, _hyperplane_sql
    return f"""
    e AS (
      SELECT vec_id, embedding, {_hyperplane_sql('embedding')} AS bucket
      FROM embeddings
    ),
    sims AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             {_cosine_sql('a.embedding', 'b.embedding')} AS cosine
      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT src, dst, cosine,
             row_number() OVER (PARTITION BY src
                                ORDER BY cosine DESC, dst) AS rank
      FROM sims
    ),
    knn AS (SELECT src, dst FROM ranked WHERE rank <= {_KNN_K})
    """


@register(
    "knn_semantic_clusters",
    f"""
    WITH RECURSIVE {_knn_cte()},
    mut AS (
      SELECT k1.src AS doc_a, k1.dst AS doc_b
      FROM knn k1 JOIN knn k2 ON k2.src = k1.dst AND k2.dst = k1.src
      WHERE k1.src < k1.dst
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM mut
      UNION
      SELECT doc_b AS a, doc_a AS b FROM mut
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a
    ),
    comp AS (
      SELECT a AS vec_id, least(a, min(b)) AS cluster_id
      FROM reach GROUP BY a
    )
    SELECT vec_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           vec_id = cluster_id AS is_canonical
    FROM comp
    """,
    doc="Graph-based semantic dedup: mutual-kNN edges (both endpoints "
        "rank each other top-3 — the robust-edge filter that kills "
        "one-way hub edges) grouped into connected components, each "
        "vector labeled with its cluster and a canonical flag. This "
        "is the graph-community sibling of SemDeDup's "
        "centroid-cell-then-cosine formulation (semantic_dedup): "
        "cells bound WHERE comparisons happen, mutual-kNN + CC "
        "instead lets chains of pairwise-similar items merge across "
        "bucket boundaries they share pairwise — the right semantics "
        "when paraphrase clusters drift (template v1 ~ v2 ~ v3). "
        "Composition is pure operator reuse: knn edge builder -> "
        "mutuality self-join -> connected_components_auto "
        "(min-label with the star-variant fallback guard). Scale: "
        "the CC input is the MUTUAL edge set (<= 3 undirected edges "
        "per vector, 16 B rows), so clustering cost is independent "
        "of embedding dimension; the oracle is the same recursive-"
        "CTE closure dedup_clusters pins.",
)
def knn_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components_auto
    edges = _knn_edges(spark, sf_dir)
    rev = edges.select(F.col("src").alias("_rsrc"),
                       F.col("dst").alias("_rdst"))
    mut = (edges.join(rev, (F.col("_rsrc") == F.col("dst"))
                      & (F.col("_rdst") == F.col("src")))
                .filter(F.col("src") < F.col("dst"))
                .select(F.col("src").alias("doc_a"),
                        F.col("dst").alias("doc_b")))
    labels = connected_components_auto(mut, src="doc_a", dst="doc_b")
    w = Window.partitionBy("component")
    return labels.select(
        F.col("node").alias("vec_id"),
        F.col("component").alias("cluster_id"),
        F.count("*").over(w).alias("cluster_size"),
        (F.col("node") == F.col("component")).alias("is_canonical"))


def _nn_descent_oracle() -> str:
    from .llm_ext import _cosine_sql, _h32_sql
    cos = _cosine_sql('ea.embedding', 'eb.embedding')
    h = _h32_sql('vec_id::VARCHAR')
    return f"""
    WITH {_knn_cte()},
    ring_ranked AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY {h}, vec_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM embeddings
    ),
    ring AS (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM ring_ranked a
      CROSS JOIN (SELECT unnest([1, 2, 3]) AS d) u
      JOIN ring_ranked b ON b.rnk = ((a.rnk - 1 + u.d) % a.n) + 1
      WHERE a.vec_id <> b.vec_id
    ),
    e0 AS (
      SELECT src, dst FROM knn
      UNION
      SELECT src, dst FROM ring
    ),
    rev AS (SELECT dst AS src, src AS dst FROM e0),
    hop2 AS (
      SELECT k1.src AS src, k2.dst AS dst
      FROM e0 k1 JOIN e0 k2 ON k2.src = k1.dst
      WHERE k1.src <> k2.dst
    ),
    cand AS (
      SELECT src, dst FROM e0
      UNION
      SELECT src, dst FROM rev
      UNION
      SELECT src, dst FROM hop2
    ),
    scored AS (
      SELECT c.src, c.dst,
             {cos} AS cosine
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.src
      JOIN embeddings eb ON eb.vec_id = c.dst
    ),
    reranked AS (
      SELECT src, dst, cosine,
             row_number() OVER (PARTITION BY src
                                ORDER BY cosine DESC, dst) AS rank
      FROM scored
    )
    SELECT src, dst, CAST(rank AS INT) AS rank, round(cosine, 6) AS cosine
    FROM reranked WHERE rank <= {_KNN_K}
    """


@register(
    "nn_descent_round",
    _nn_descent_oracle(),
    doc="One NN-Descent refinement round (Dong et al. WWW'11): the "
        "seed graph is the LSH top-3 edges UNION each vector's 3 "
        "successors on a deterministic hash ring (h32(vec_id) order — "
        "the reproducible stand-in for NN-Descent's random init, and "
        "the piece that makes refinement WORK: LSH edges only ever "
        "connect same-bucket vectors, so a closure over them can "
        "never leave a bucket — measured: zero improvement without "
        "the ring), and each vector's candidates are its seed "
        "neighbors UNION reverse neighbors UNION neighbors' "
        "neighbors, scored exactly and re-ranked to a refined top-3. "
        "The 2-hop step crosses buckets via ring edges, which is how "
        "the round escapes LSH blind spots (recall gain pinned by "
        "tests/test_curation_extra.py against brute-force truth). "
        "Plan shape: the ring is the distributed prefix rank + a "
        "modular rank join; candidate generation is edge-table set "
        "algebra (3+3 rows/vector); scoring fetches embeddings by "
        "two hash joins — iteration cost is bounded by the EDGE "
        "table, never the vector table, and rounds repeat until the "
        "graph stops improving (one round registered; the operator "
        "is the round, the loop is policy).",
)
def nn_descent_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import vec_norm
    from ..operators.similarity import _pair_cosine

    lsh = _knn_edges(spark, sf_dir).select("src", "dst")
    # deterministic hash-ring seed edges: rank every vector on the
    # h32(vec_id) ring (distributed prefix rank) and connect each to
    # its 3 successors modulo n — geometry-blind, hence cross-bucket
    ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    # pinned: the rank table feeds BOTH sides of the ring join (a/b),
    # so the prefix-rank machinery (partitioned window + offsets fold
    # + broadcast join over with_global_running's cached range frame)
    # would execute once per side; the frame is 3 longs per vector.
    ranked = persist(with_global_running(
        ids, [h32(F.col("vec_id").cast("string")), F.col("vec_id")],
        rank="rnk", totals=True))
    a = ranked.select(F.col("vec_id").alias("src"),
                      F.col("rnk").alias("_ra"),
                      F.col("_n_total").alias("_n"))
    b = ranked.select(F.col("vec_id").alias("dst"),
                      F.col("rnk").alias("_rb"))
    ring = (a.withColumn("_d", F.explode(F.array(*[F.lit(d)
                                                   for d in (1, 2, 3)])))
             .withColumn("_rb", (F.col("_ra") - 1 + F.col("_d"))
                         % F.col("_n") + 1)
             .join(b, "_rb")
             .filter(F.col("src") != F.col("dst"))
             .select("src", "dst"))
    # persisted: the seed edge set feeds four subtrees (rev, both
    # 2-hop sides, and the candidate union) — without the pin the
    # ring's prefix-rank machinery re-executes per reference
    edges = persist(lsh.union(ring))
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    k1 = edges.select(F.col("src"), F.col("dst").alias("_mid"))
    k2 = edges.select(F.col("src").alias("_mid"), F.col("dst"))
    hop2 = (k1.join(k2, "_mid")
              .filter(F.col("src") != F.col("dst"))
              .select("src", "dst"))
    cand = edges.union(rev).union(hop2).distinct()
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", vec_norm(F.col("embedding")).alias("_n"))
    ea = emb.select(F.col("vec_id").alias("src"),
                    F.col("embedding").alias("_qv"),
                    F.col("_n").alias("_qnrm"))
    eb = emb.select(F.col("vec_id").alias("dst"),
                    F.col("embedding").alias("_cv"),
                    F.col("_n").alias("_cnrm"))
    scored = (cand.join(ea, "src").join(eb, "dst")
                  .select("src", "dst",
                          _pair_cosine("_qv", "_cv", "_qnrm", "_cnrm")
                          .alias("cosine")))
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= _KNN_K)
                  .select("src", "dst", F.col("rank").cast("int").alias("rank"),
                          F.round("cosine", 6).alias("cosine")))


# ---------------------------------------------------------------------------
# Negative-sampling distribution table
# ---------------------------------------------------------------------------

_NEG_MIN_COUNT = 5        # vocabulary floor (word2vec min-count)
_NEG_Q = 1_000_000        # weight quantum (1e-6 units)


@register(
    "negative_sampling_table",
    f"""
    WITH toks AS (
      SELECT unnest({_tok_sql()}) AS token
      FROM documents WHERE length(trim(text)) > 0
    ),
    counts AS (
      SELECT token, COUNT(*)::BIGINT AS cnt FROM toks GROUP BY token
      HAVING COUNT(*) >= {_NEG_MIN_COUNT}
    ),
    weighted AS (
      SELECT token, cnt,
             CAST(floor(sqrt(sqrt((cnt * cnt * cnt)::DOUBLE))
                        * {_NEG_Q}) AS BIGINT) AS weight_q
      FROM counts
    ),
    cum AS (
      SELECT token, cnt, weight_q,
             SUM(weight_q) OVER (ORDER BY token
                                 ROWS UNBOUNDED PRECEDING) AS cum_q,
             SUM(weight_q) OVER () AS total_q
      FROM weighted
    )
    SELECT token, cnt, weight_q, CAST(cum_q AS BIGINT) AS cum_q,
           (cum_q::DOUBLE / total_q::DOUBLE) AS cdf
    FROM cum
    """,
    doc="Negative-sampling distribution table (Mikolov et al. 2013): "
        "the smoothed unigram distribution P(w) ~ count^0.75 that "
        "word2vec/contrastive training draws negatives from, "
        "materialized as the cumulative table an inverse-CDF sampler "
        "binary-searches. count^0.75 is computed EXACTLY as "
        "sqrt(sqrt(c^3)) — two correctly-rounded IEEE sqrts on an "
        "exactly-representable c^3 (c^3 < 2^53 up to c ~ 200k; "
        "beyond, lift c^3 into DECIMAL and accept one documented "
        "rounding at the double conversion) — then floor-quantized "
        "to 1e-6 units so the running total is an exact BIGINT sum. "
        "The cumulative weight runs over the token-ordered vocabulary "
        "through the distributed two-pass prefix sum "
        "(operators/prefix.py — never a single-partition window, "
        "even though the vocab is merely vocabulary-sized: the same "
        "code path then serves corpus-scale cumulative tables). The "
        "final cdf column is one exact-int division per row. At "
        "100 TB the token count is one explode + map-side-combined "
        "aggregate; the table itself is vocabulary-sized and "
        "broadcastable to samplers.",
)
def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = rebalance(docs.filter(F.length(F.trim(F.col("text"))) > 0)) \
        .select(F.explode(word_tokens(F.lower(F.col("text")))).alias("token"))
    counts = (toks.groupBy("token")
                  .agg(F.count("*").cast("bigint").alias("cnt"))
                  .filter(F.col("cnt") >= _NEG_MIN_COUNT))
    c = F.col("cnt").cast("double")
    wq = F.floor(F.sqrt(F.sqrt(c * c * c)) * _NEG_Q).cast("bigint")
    weighted = counts.select("token", "cnt", wq.alias("weight_q"))
    cum = with_global_running(
        weighted, [F.col("token")], sum_col="weight_q",
        cum_name="cum_q", totals=True)
    return cum.select(
        "token", "cnt", "weight_q",
        F.col("cum_q").cast("bigint").alias("cum_q"),
        (F.col("cum_q").cast("double")
         / F.col("_sum_total").cast("double")).alias("cdf"))


# ---------------------------------------------------------------------------
# k-center greedy coreset selection
# ---------------------------------------------------------------------------

_KCENTER_ROUNDS = 4   # selections AFTER the seed


def _kcenter_oracle() -> str:
    from .llm_ext import _cosine_sql
    cos_prev = _cosine_sql('e.embedding', 'p.embedding')
    ctes = ["""
    seed AS (SELECT vec_id, embedding FROM embeddings
             ORDER BY vec_id LIMIT 1),
    d0 AS (
      SELECT e.vec_id, e.embedding,
             1.0 - ({cos}) AS dmin
      FROM embeddings e CROSS JOIN seed p
    )""".replace("{cos}", cos_prev)]
    for k in range(1, _KCENTER_ROUNDS + 1):
        ctes.append(f"""
    sel{k} AS (SELECT vec_id, embedding, dmin FROM d{k - 1}
               ORDER BY dmin DESC, vec_id LIMIT 1),
    d{k} AS (
      SELECT e.vec_id, e.embedding,
             least(e.dmin, 1.0 - ({cos_prev.replace('e.embedding', 'e.embedding').replace('p.embedding', 'p.embedding')})) AS dmin
      FROM d{k - 1} e CROSS JOIN sel{k} p
    )""")
    sels = "\n      UNION ALL\n".join(
        [f"      SELECT 0 AS round, vec_id, CAST(NULL AS DOUBLE) AS radius "
         f"FROM seed"] +
        [f"      SELECT {k} AS round, vec_id, round(dmin, 6) AS radius "
         f"FROM sel{k}" for k in range(1, _KCENTER_ROUNDS + 1)])
    return "WITH " + ",".join(ctes) + f"""
    SELECT round, vec_id, radius FROM (
{sels}
    )
    """


@register(
    "kcenter_coreset",
    _kcenter_oracle(),
    doc="k-center greedy coreset selection (Gonzalez's 2-approximation "
        "— farthest-point traversal): starting from the lowest-id "
        "vector, each round selects the point FARTHEST (cosine "
        "distance) from every already-selected center, maintaining a "
        "per-point running min-distance. The selection radius is "
        "non-increasing by construction and is the coreset's covering "
        "bound — the 'most diverse K examples' primitive behind "
        "active-learning batch selection and coreset distillation "
        "over embedding corpora (Sener & Savarese ICLR'18 use "
        "exactly this loop). Plan shape per round: ONE broadcast of "
        "the single new center (1 row) into a map-side distance "
        "update (running least()), one TakeOrdered(1) argmax — the "
        "corpus is never shuffled, state per point is one double, "
        "round cost is a linear scan; K rounds = K scans (persist "
        "the running frame and lineage stays flat). Exactness: the "
        "cosine fold is the shared left-to-right recipe, least() and "
        "the argmax tiebreak (dmin DESC, vec_id) are order-free, and "
        "the oracle is the identical recurrence unrolled in SQL.",
)
def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import vec_norm
    from ..operators.similarity import _pair_cosine

    emb = rebalance(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding",
        vec_norm(F.col("embedding")).alias("_nrm"))
    seed = (emb.orderBy("vec_id").limit(1)
               .select(F.col("vec_id").alias("_cid"),
                       F.col("embedding").alias("_cv"),
                       F.col("_nrm").alias("_cnrm")))
    cur = persist(emb.crossJoin(F.broadcast(seed))
                     .select("vec_id", "embedding", "_nrm",
                             (F.lit(1.0) - _pair_cosine("_cv", "embedding",
                                                        "_cnrm", "_nrm"))
                             .alias("dmin")))
    picks = [seed.select(F.lit(0).alias("round"),
                         F.col("_cid").alias("vec_id"),
                         F.lit(None).cast("double").alias("radius"))]
    for k in range(1, _KCENTER_ROUNDS + 1):
        sel = (cur.orderBy(F.desc("dmin"), F.asc("vec_id")).limit(1)
                  .select(F.col("vec_id").alias("_cid"),
                          F.col("embedding").alias("_cv"),
                          F.col("_nrm").alias("_cnrm"),
                          F.col("dmin").alias("_r")))
        picks.append(sel.select(F.lit(k).alias("round"),
                                F.col("_cid").alias("vec_id"),
                                F.round("_r", 6).alias("radius")))
        cur = persist(cur.crossJoin(F.broadcast(sel))
                         .select("vec_id", "embedding", "_nrm",
                                 F.least(
                                     F.col("dmin"),
                                     F.lit(1.0) - _pair_cosine(
                                         "_cv", "embedding", "_cnrm", "_nrm"))
                                 .alias("dmin")))
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Cluster-aware fold assignment (leakage-safe splits)
# ---------------------------------------------------------------------------

_N_FOLDS = 5


def _cluster_folds_oracle() -> str:
    from .text_pipeline import _PAIRS_CTE
    return f"""
    WITH RECURSIVE {_PAIRS_CTE},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (
      SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      FROM reach GROUP BY a
    ),
    assigned AS (
      SELECT d.doc_id, d.lang,
             coalesce(c.cluster_id, d.doc_id) AS cluster_id,
             (coalesce(c.cluster_id, d.doc_id) IS NOT NULL
              AND c.cluster_id IS NOT NULL) AS in_dup_cluster
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ),
    folded AS (
      SELECT doc_id, lang, cluster_id, in_dup_cluster,
             {_h32_sql('cluster_id::VARCHAR')} % {_N_FOLDS} AS fold
      FROM assigned
    )
    SELECT CAST(fold AS INT) AS fold, lang,
           COUNT(*)::BIGINT AS n_docs,
           COUNT(DISTINCT cluster_id)::BIGINT AS n_clusters,
           CAST(SUM(CASE WHEN in_dup_cluster THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_docs
    FROM folded GROUP BY fold, lang
    """


@register(
    "cluster_aware_folds",
    _cluster_folds_oracle(),
    doc="Leakage-safe k-fold assignment — the CONSTRUCTIVE fix for "
        "what split_leakage_audit detects: a random per-document "
        "split puts near-duplicates on both sides of a train/val "
        "boundary, leaking training text into evaluation. Here the "
        "unit of assignment is the DEDUP CLUSTER (near-dup connected "
        "components, same pair graph as dedup_clusters; singletons "
        "are their own cluster), and the fold is a deterministic "
        "hash of the cluster id — so by construction no cluster can "
        "straddle folds, ever, and the assignment is reproducible "
        "across runs/engines (h32, not rand()). Output is the "
        "per-(fold, lang) census with cluster and dup-doc counts — "
        "what a curation team checks for fold balance before "
        "training. Scale shape: the clustering is the CC operator "
        "(edge-table iterations over 16 B rows); the fold map is one "
        "(doc -> cluster) hash join keyed on doc_id + a map-side "
        "hash (broadcast only while dup-graph membership fits); the "
        "census is one partial+final aggregate. The audit and the "
        "fix compose: run split_leakage_audit on the OUTPUT of this "
        "operator and the cross-fold overlap is provably zero.",
)
def cluster_aware_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components_auto
    from ..operators.dedup import ngram_jaccard_pairs as pairs_op
    docs = load_table(spark, sf_dir, "documents")
    pairs = pairs_op(docs, block_col="lang", threshold=0.3) \
        .select("doc_a", "doc_b")
    labels = connected_components_auto(pairs, src="doc_a", dst="doc_b") \
        .select(F.col("node").alias("doc_id"),
                F.col("component").alias("_comp"))
    assigned = (docs.select("doc_id", "lang")
                    .join(labels, "doc_id", "left")
                    .select("doc_id", "lang",
                            F.coalesce("_comp", F.col("doc_id"))
                             .alias("cluster_id"),
                            F.col("_comp").isNotNull()
                             .alias("in_dup_cluster")))
    fold = (h32(F.col("cluster_id").cast("string"))
            % F.lit(_N_FOLDS)).cast("int")
    return (assigned.withColumn("fold", fold)
                    .groupBy("fold", "lang")
                    .agg(F.count("*").cast("bigint").alias("n_docs"),
                         F.countDistinct("cluster_id").cast("bigint")
                          .alias("n_clusters"),
                         F.sum(F.when(F.col("in_dup_cluster"), 1)
                                .otherwise(0)).cast("bigint")
                          .alias("n_dup_docs")))


# ---------------------------------------------------------------------------
# Temperature-smoothed mixture weights
# ---------------------------------------------------------------------------

# alpha is PINNED at 0.5 because sqrt is the one power IEEE 754
# requires to be correctly rounded — sqrt(n) of an exact integer is
# bit-identical in Spark and DuckDB, while a general pow(n, 0.3)
# carries no such guarantee. The smoothed weight is then
# floor-quantized to 1e-6 (the negative_sampling_table precedent) so
# the normalizing denominator is an exact BIGINT sum, never an
# order-dependent double sum.
_TEMP_QUANT = 1_000_000


@register(
    "temperature_mixture_weights",
    f"""
    WITH tok AS (
      SELECT source, len({_tok_sql()}) AS n FROM documents
      WHERE length(trim(text)) > 0
    ),
    per_src AS (
      SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens
      FROM tok GROUP BY source
    ),
    q AS (
      SELECT source, n_tokens,
             CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * {_TEMP_QUANT}.0)
                  AS BIGINT) AS qw
      FROM per_src
    ),
    tot AS (
      SELECT SUM(n_tokens) AS total_tokens, SUM(qw) AS total_qw FROM q
    )
    SELECT q.source, q.n_tokens,
           CAST(q.n_tokens AS DOUBLE) / CAST(t.total_tokens AS DOUBLE)
             AS token_share,
           CAST(q.qw AS DOUBLE) / CAST(t.total_qw AS DOUBLE)
             AS alpha_weight,
           CAST(FLOOR((CAST(q.qw AS DOUBLE) * 1000000.0)
                      / CAST(t.total_qw AS DOUBLE)) AS BIGINT)
             AS sampled_per_million
    FROM q CROSS JOIN tot t
    """,
    doc="Temperature-smoothed source sampling weights (the "
        "multilingual/multi-source mixture rule of XLM-R / mT5: "
        "w_s ∝ n_s^alpha, alpha=0.5): per-source exact token counts, "
        "sqrt-smoothed and floor-quantized to 1e-6 so the normalizer "
        "is an exact integer sum — every output double is one IEEE "
        "divide of exact integers. alpha=0.5 is pinned because sqrt "
        "is the one power IEEE requires correctly rounded (engine-"
        "portable); the raw token_share sits alongside so the "
        "boost/suppression per source is visible. One corpus scan, "
        "one vocabulary-free hash-agg on source; the weight table is "
        "sources-sized — broadcast wherever the sampler joins it.",
)
def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents") \
        .filter(F.length(F.trim("text")) > 0)
    per_src = (d.select("source",
                        F.size(word_tokens(F.col("text"))).alias("n"))
                .groupBy("source").agg(F.sum("n").alias("n_tokens")))
    q = per_src.withColumn(
        "qw",
        F.floor(F.sqrt(F.col("n_tokens").cast("double"))
                * F.lit(float(_TEMP_QUANT))).cast("bigint"))
    tot = q.agg(F.sum("n_tokens").alias("total_tokens"),
                F.sum("qw").alias("total_qw"))
    return (q.crossJoin(F.broadcast(tot))
             .select("source", "n_tokens",
                     (F.col("n_tokens").cast("double")
                      / F.col("total_tokens").cast("double"))
                     .alias("token_share"),
                     (F.col("qw").cast("double")
                      / F.col("total_qw").cast("double"))
                     .alias("alpha_weight"),
                     F.floor((F.col("qw").cast("double") * F.lit(1000000.0))
                             / F.col("total_qw").cast("double"))
                      .cast("bigint").alias("sampled_per_million")))
