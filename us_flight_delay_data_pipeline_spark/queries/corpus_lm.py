"""[EXT] fourth text-pipeline wave: corpus language-model scoring,
balanced stratified sampling, embedding compression, and dedup-recall
auditing.

These extend the training-data surface (SURVEY.md §0 north star) with
the operators a curation team runs between dedup and packing:

- ``bigram_lm_scores``: a corpus-trained bigram LM quality signal (the
  exact-integer stand-in for a KenLM perplexity filter; the unigram
  variant is ``doc_commonness``).
- ``balanced_stratified_sample``: data-derived per-stratum rates that
  equalize strata (vs ``deterministic_sample``'s fixed rates).
- ``int8_quantize_embeddings``: symmetric per-vector int8 codes — the
  4× memory cut applied before ANN serving.
- ``lsh_recall_audit``: measures MinHash-LSH candidate recall against
  the exact within-language Jaccard truth, per similarity decile —
  the audit you run before trusting approximate dedup at 100 TB.

Determinism policy (registry docstring): every cross-engine aggregate
is either an exact BIGINT sum of floor-quantized rationals or a single
final double division of exact integers — no float accumulation-order
exposure anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cache import persist
from ..sources.registry import load_table
from . import register
from .llm_ext import _BAND_JOIN_SQL, _sig_cte_sql, _tok_sql, MINHASH_COEFFS, _BANDS

_LM_SCALE = 1_000_000_000  # conditional-probability quantum (1e-9)


@register(
    "bigram_lm_scores",
    f"""
    WITH base AS (
      SELECT doc_id, {_tok_sql()} AS toks
      FROM documents WHERE length(trim(text)) > 0
    ),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      FROM base, unnest(range(1, len(toks))) AS u(i)
    ),
    doc_bg AS (SELECT doc_id, w1, w2, COUNT(*) AS k FROM bg GROUP BY ALL),
    c12 AS (SELECT w1, w2, CAST(SUM(k) AS BIGINT) AS c12 FROM doc_bg GROUP BY ALL),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
    stats AS (SELECT w1, w2, (c12 * {_LM_SCALE}) // c1 AS q
              FROM c12 JOIN c1 USING (w1))
    SELECT doc_id,
           CAST(SUM(k) AS BIGINT) AS n_bigrams,
           CAST(SUM(k * q) AS BIGINT) AS score_q,
           (CAST(SUM(k * q) AS BIGINT)::DOUBLE
              / CAST(SUM(k) AS BIGINT)::DOUBLE) / {_LM_SCALE}.0 AS mean_cond_prob
    FROM doc_bg JOIN stats USING (w1, w2)
    GROUP BY doc_id
    """,
    doc="Bigram-LM quality scoring: train corpus bigram conditional "
        "probabilities P(w2|w1) = c(w1,w2)/c(w1·), then score each "
        "document by its mean conditional probability (low = "
        "unpredictable/noisy text, the KenLM-perplexity stand-in; "
        "high = fluent/templated). Exact across engines: each "
        "probability is floor-quantized to 1e-9 units as a BIGINT "
        "rational, summed exactly, divided once at the end. One "
        "explode pass builds (doc,w1,w2,k); the global c12/c1 tables "
        "derive from it by re-aggregation (map-side partials), so the "
        "token stream is scanned once, and the count tables — "
        "vocabulary-sized, not corpus-sized — join back by hash. "
        "Linear in corpus tokens at 100 TB. Overflow ceiling: "
        "c12 * 1e9 must stay under 2^63, i.e. the hottest single "
        "bigram may occur ~9e9 times — beyond a ~trillion-token "
        "corpus drop the quantum to 1e6 (same constant, BOTH "
        "engines) or lift q into DECIMAL(38,0).",
)
def bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_tokens
    d = load_table(spark, sf_dir, "documents")
    base = (d.filter(F.length(F.trim("text")) > 0)
             .select("doc_id",
                     word_tokens(F.lower(F.col("text"))).alias("toks"))
             # >= 2 guards sequence(1, size-1), which would generate a
             # DESCENDING [1, 0] for single-token docs (oracle's
             # range(1, 1) is empty — same final rows either way)
             .filter(F.size("toks") >= 2))
    bg = (base.select(
            "doc_id",
            F.explode(F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).alias("b"))
          .select("doc_id", "b.w1", "b.w2"))
    # one scan of the token stream; c12/c1 re-aggregate the persisted
    # per-doc counts instead of re-exploding the corpus
    doc_bg = persist(bg.groupBy("doc_id", "w1", "w2")
                       .agg(F.count("*").alias("k")))
    c12 = doc_bg.groupBy("w1", "w2").agg(F.sum("k").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    stats = (c12.join(c1, "w1")
                .select("w1", "w2",
                        F.expr(f"(c12 * {_LM_SCALE}) DIV c1").alias("q")))
    return (doc_bg.join(stats, ["w1", "w2"])
                  .groupBy("doc_id")
                  .agg(F.sum("k").cast("bigint").alias("n_bigrams"),
                       F.sum(F.col("k") * F.col("q")).cast("bigint")
                        .alias("score_q"))
                  .select("doc_id", "n_bigrams", "score_q",
                          ((F.col("score_q").cast("double")
                            / F.col("n_bigrams").cast("double"))
                           / F.lit(float(_LM_SCALE))).alias("mean_cond_prob")))


_SAMPLE_DEN = 1_000_000  # sampling-rate denominator


@register(
    "balanced_stratified_sample",
    f"""
    WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    tgt AS (SELECT MIN(n) AS m FROM counts),
    keyed AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
               % {_SAMPLE_DEN} AS r
      FROM documents
    )
    SELECT k.doc_id, k.lang, CAST(k.r AS BIGINT) AS r
    FROM keyed k JOIN counts USING (lang) CROSS JOIN tgt
    WHERE k.r * counts.n < tgt.m * {_SAMPLE_DEN}
    """,
    doc="Balanced stratified sampling: derive per-language keep rates "
        "min_count/count from the data itself so every stratum lands "
        "at the size of the smallest (the 'equalize languages' step of "
        "a corpus mix), then keep rows by deterministic hash. The "
        "acceptance test r*n < m*DEN is exact integer cross-"
        "multiplication — no float rate ever rounds differently "
        "between engines or runs. Per-stratum counts broadcast "
        "(|langs| rows); the sample itself is a map-side filter, so "
        "the plan is one small agg + one broadcast join at any scale.",
)
def balanced_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.hashing import h60
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n"))
    tgt = counts.agg(F.min("n").alias("m"))
    keyed = d.select(
        "doc_id", "lang",
        (h60(F.col("doc_id").cast("string")) % _SAMPLE_DEN).alias("r"))
    return (keyed.join(F.broadcast(counts), "lang")
                 .crossJoin(F.broadcast(tgt))
                 .filter(F.col("r") * F.col("n") < F.col("m") * _SAMPLE_DEN)
                 .select("doc_id", "lang", F.col("r").cast("bigint").alias("r")))


_Q_ERR_SCALE = 1e12  # reconstruction-error quantum (1e-12)


@register(
    "int8_quantize_embeddings",
    f"""
    WITH q AS (
      SELECT vec_id,
             list_aggregate([abs(x::DOUBLE) for x in embedding], 'max') AS amax
      FROM embeddings
    ),
    sc AS (SELECT vec_id, amax, amax / 127.0 AS scale FROM q),
    codes AS (
      SELECT e.vec_id, s.amax, s.scale,
             CASE WHEN s.amax = 0
                  THEN [CAST(0 AS BIGINT) for x in e.embedding]
                  ELSE [CAST(floor(x::DOUBLE / s.scale + 0.5) AS BIGINT)
                        for x in e.embedding]
             END AS code
      FROM embeddings e JOIN sc s USING (vec_id)
    )
    SELECT c.vec_id,
           CAST(floor(c.scale * 1000000000 + 0.5) AS BIGINT) AS scale_q,
           array_to_string(c.code, ',') AS codes,
           CAST(list_sum([CAST(floor(
                  (e.embedding[i+1]::DOUBLE - c.code[i+1] * c.scale)
                * (e.embedding[i+1]::DOUBLE - c.code[i+1] * c.scale)
                * {_Q_ERR_SCALE} + 0.5) AS BIGINT)
              for i in range(0, len(c.code))]) AS BIGINT) AS err_q
    FROM codes c JOIN embeddings e USING (vec_id)
    """,
    doc="Symmetric per-vector int8 quantization (the 4x memory cut "
        "applied to an embedding corpus before ANN serving): scale = "
        "max|x|/127, code = floor(x/scale + 0.5), plus the exact "
        "reconstruction SSE per vector. Cross-engine exact: float to "
        "double casts are value-preserving, every per-element double "
        "op is identical IEEE arithmetic, the error sum is a BIGINT "
        "sum of floor-quantized 1e-12 units (orderless), and codes "
        "serialize to a csv string per the registry's array-output "
        "rule. Pure per-row map — no shuffle at any scale.",
)
def int8_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.core import arr_str
    e = load_table(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    amax = F.array_max(F.transform("embedding", lambda x: F.abs(xd(x))))
    base = e.select("vec_id", "embedding", amax.alias("amax"),
                    (amax / F.lit(127.0)).alias("scale"))
    code = F.when(
        F.col("amax") == 0,
        F.transform("embedding", lambda x: F.lit(0).cast("bigint"))
    ).otherwise(
        F.transform("embedding",
                    lambda x: F.floor(xd(x) / F.col("scale") + F.lit(0.5))))
    with_codes = base.select("vec_id", "embedding", "scale",
                             code.alias("code"))
    err_terms = F.zip_with(
        "embedding", "code",
        lambda x, c: F.floor((xd(x) - c * F.col("scale"))
                             * (xd(x) - c * F.col("scale"))
                             * F.lit(_Q_ERR_SCALE) + F.lit(0.5)))
    return with_codes.select(
        "vec_id",
        F.floor(F.col("scale") * F.lit(1000000000.0) + F.lit(0.5))
         .cast("bigint").alias("scale_q"),
        arr_str("code").alias("codes"),
        F.aggregate(err_terms, F.lit(0).cast("bigint"),
                    lambda acc, t: acc + t).alias("err_q"))


@register(
    "length_curriculum",
    """
    WITH h AS (SELECT n_chars AS v, COUNT(*) AS c FROM documents GROUP BY 1),
    cum AS (
      SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n FROM h
    ),
    b AS (
      SELECT MIN(CASE WHEN cum >= (n + 3) // 4 THEN v END) AS q1,
             MIN(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS q2,
             MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS q3
      FROM cum
    )
    SELECT CASE WHEN d.n_chars <= b.q1 THEN 0
                WHEN d.n_chars <= b.q2 THEN 1
                WHEN d.n_chars <= b.q3 THEN 2
                ELSE 3 END::INT AS bucket,
           COUNT(*)::BIGINT AS n_docs,
           CAST(MIN(d.n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(d.n_chars) AS BIGINT) AS max_chars,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
    FROM documents d CROSS JOIN b
    GROUP BY 1
    """,
    doc="Length-curriculum binning: EXACT document-length quartiles "
        "as order statistics (smallest value whose cumulative count "
        "reaches ceil(qN) — pure integer ranks, no interpolated "
        "percentile whose float formula could differ between "
        "engines), then every doc assigned its quartile bucket — the "
        "sequence-length curriculum / length-bucketed batching prep "
        "step. Scale shape: the cumulative count runs over the "
        "VALUE HISTOGRAM (bounded by the length domain, not corpus "
        "size) through operators/prefix.py's two-pass distributed "
        "prefix sum — no single-partition window — and the 1-row "
        "boundary table broadcasts into a map-side bucket assign.",
)
def length_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import with_global_running
    d = load_table(spark, sf_dir, "documents")
    h = d.groupBy("n_chars").agg(F.count("*").alias("c"))
    cum = with_global_running(h, [F.col("n_chars")], sum_col="c",
                              cum_name="cum", totals=True)
    bounds = cum.agg(
        F.expr("MIN(CASE WHEN cum >= (_sum_total + 3) DIV 4 "
               "THEN n_chars END) AS q1"),
        F.expr("MIN(CASE WHEN cum >= (_sum_total + 1) DIV 2 "
               "THEN n_chars END) AS q2"),
        F.expr("MIN(CASE WHEN cum >= (3 * _sum_total + 3) DIV 4 "
               "THEN n_chars END) AS q3"))
    bucket = (F.when(F.col("n_chars") <= F.col("q1"), 0)
               .when(F.col("n_chars") <= F.col("q2"), 1)
               .when(F.col("n_chars") <= F.col("q3"), 2)
               .otherwise(3))
    return (d.crossJoin(F.broadcast(bounds))
             .select(bucket.alias("bucket"), "n_chars")
             .groupBy("bucket")
             .agg(F.count("*").cast("bigint").alias("n_docs"),
                  F.min("n_chars").cast("bigint").alias("min_chars"),
                  F.max("n_chars").cast("bigint").alias("max_chars"),
                  F.sum("n_chars").cast("bigint").alias("total_chars")))


@register(
    "lsh_recall_audit",
    f"""
    WITH {_sig_cte_sql()},
    hn AS (
      SELECT s.doc_id, d.lang, s.hsd, len(s.hsd) AS n
      FROM sig s JOIN documents d USING (doc_id)
    ),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.hsd, b.hsd))::DOUBLE
               / (a.n + b.n - len(list_intersect(a.hsd, b.hsd)))::DOUBLE
               AS jaccard
      FROM hn a JOIN hn b ON a.lang = b.lang AND a.doc_id < b.doc_id
       AND least(a.n, b.n)::DOUBLE >= 0.3 * greatest(a.n, b.n)::DOUBLE
      WHERE len(list_intersect(a.hsd, b.hsd))::DOUBLE
               / (a.n + b.n - len(list_intersect(a.hsd, b.hsd)))::DOUBLE >= 0.3
    ),
    cand AS (SELECT DISTINCT doc_a, doc_b FROM ({_BAND_JOIN_SQL})),
    marked AS (
      SELECT t.jaccard, CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS caught
      FROM truth t LEFT JOIN cand c
        ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT CAST(floor(jaccard * 10) AS BIGINT) AS decile,
           COUNT(*)::BIGINT AS n_true,
           CAST(SUM(caught) AS BIGINT) AS n_caught,
           CAST(SUM(caught) AS BIGINT)::DOUBLE / COUNT(*)::DOUBLE AS recall
    FROM marked GROUP BY decile
    """,
    doc="LSH recall audit: exact within-language Jaccard pairs "
        "(threshold 0.3) as ground truth, per similarity decile, vs "
        "the MinHash-LSH (4x4 banding) candidate set — the measurement "
        "that tells you whether approximate dedup is safe to trust "
        "before you run it over 100 TB (banding theory: recall rises "
        "steeply with J; low deciles are expected misses). Truth uses "
        "the prefix-filtered exact join (linear in shared rare "
        "shingles), LSH the banded self-join — both scale-safe; the "
        "audit itself is a pair-key hash join + tiny agg.",
)
def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (minhash_lsh_duplicate_pairs,
                                   ngram_jaccard_pairs)
    d = load_table(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(d, block_col="lang", threshold=0.3)
    # verified LSH pairs: for truth rows (J >= 0.3) membership in the
    # verified set equals membership in the raw candidate set, so the
    # audit join is exact w.r.t. candidate recall
    lsh = (minhash_lsh_duplicate_pairs(d, MINHASH_COEFFS, bands=_BANDS,
                                       threshold=0.3)
           .select("doc_a", "doc_b", F.lit(1).alias("caught")))
    marked = (truth.join(lsh, ["doc_a", "doc_b"], "left")
                   .select("jaccard",
                           F.coalesce("caught", F.lit(0)).alias("caught")))
    return (marked.groupBy(F.floor(F.col("jaccard") * 10).cast("bigint")
                            .alias("decile"))
                  .agg(F.count("*").cast("bigint").alias("n_true"),
                       F.sum("caught").cast("bigint").alias("n_caught"))
                  .select("decile", "n_true", "n_caught",
                          (F.col("n_caught").cast("double")
                           / F.col("n_true").cast("double")).alias("recall")))


_REP_TOP2_T = 0.20   # Gopher: filter when top-2-gram fraction > 0.20
_REP_DUP5_T = 0.30   # and when duplicated-5-gram fraction > 0.30


@register(
    "repetition_stats",
    f"""
    WITH base AS (
      SELECT doc_id, {_tok_sql()} AS toks FROM documents
    ),
    sized AS (
      SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) >= 5
    ),
    grams AS (
      SELECT doc_id, 2 AS glen,
             array_to_string(toks[u.i:u.i+1], ' ') AS g
      FROM sized, LATERAL (SELECT unnest(range(1, n)) AS i) u
      UNION ALL
      SELECT doc_id, 3, array_to_string(toks[u.i:u.i+2], ' ')
      FROM sized, LATERAL (SELECT unnest(range(1, n - 1)) AS i) u
      UNION ALL
      SELECT doc_id, 5, array_to_string(toks[u.i:u.i+4], ' ')
      FROM sized, LATERAL (SELECT unnest(range(1, n - 3)) AS i) u
    ),
    gc AS (SELECT doc_id, glen, g, COUNT(*) AS c FROM grams GROUP BY ALL),
    per AS (
      SELECT doc_id,
             MAX(CASE WHEN glen = 2 THEN c END) AS top2,
             MAX(CASE WHEN glen = 3 THEN c END) AS top3,
             SUM(CASE WHEN glen = 5 AND c >= 2 THEN c ELSE 0 END) AS dup5n,
             SUM(CASE WHEN glen = 5 THEN c ELSE 0 END) AS dup5d
      FROM gc GROUP BY doc_id
    )
    SELECT s.doc_id, s.n::BIGINT AS n_tokens,
           len(list_distinct(s.toks))::BIGINT AS n_distinct,
           (p.top2 * 2)::DOUBLE / s.n::DOUBLE AS top2_frac,
           (p.top3 * 3)::DOUBLE / s.n::DOUBLE AS top3_frac,
           p.dup5n::DOUBLE / p.dup5d::DOUBLE AS dup5_frac,
           len(list_distinct(s.toks))::DOUBLE / s.n::DOUBLE
             AS distinct_ratio,
           ((p.top2 * 2)::DOUBLE / s.n::DOUBLE > {_REP_TOP2_T}
            OR p.dup5n::DOUBLE / p.dup5d::DOUBLE > {_REP_DUP5_T})
             AS flag_repetitive
    FROM sized s JOIN per p USING (doc_id)
    """,
    doc="Gopher-style repetition filters (Rae et al. 2021, App. A — "
        "the pretrain quality rules that remove boilerplate/spam "
        "before dedup even runs), token-exact: per doc, the fraction "
        "of tokens covered by the single most frequent 2-gram and "
        "3-gram, the fraction of 5-gram positions whose 5-gram "
        "repeats WITHIN the doc, the distinct-token ratio, and the "
        "Gopher-thresholded flag (top2 > 0.20 or dup5 > 0.30). All "
        "counts are exact integers; only the final fractions divide "
        "as double. One union-of-explodes pass builds (doc, glen, "
        "gram); the gram count groups by doc so the shuffle "
        "partitions by document and no gram table is corpus-global — "
        "at 100 TB this is embarrassingly parallel per doc, the "
        "cheapest filter in the funnel (contrast substring_dedup, "
        "whose gram counts are corpus-global by design).",
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_tokens
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens(F.lower(F.col("text")))
    sized = (d.select("doc_id", toks.alias("toks"))
              .withColumn("n", F.size("toks")).filter(F.col("n") >= 5))

    def grams(glen: int) -> DataFrame:
        return (sized.select(
                    "doc_id", "toks",
                    F.explode(F.sequence(
                        F.lit(1),
                        (F.col("n") - F.lit(glen - 1)).cast("int")))
                     .alias("i"))
                .select("doc_id", F.lit(glen).alias("glen"),
                        F.concat_ws(" ", F.slice("toks", F.col("i"),
                                                 F.lit(glen))).alias("g")))

    gc = (grams(2).unionByName(grams(3)).unionByName(grams(5))
          .groupBy("doc_id", "glen", "g").agg(F.count("*").alias("c")))
    per = gc.groupBy("doc_id").agg(
        F.max(F.when(F.col("glen") == 2, F.col("c"))).alias("top2"),
        F.max(F.when(F.col("glen") == 3, F.col("c"))).alias("top3"),
        F.sum(F.when((F.col("glen") == 5) & (F.col("c") >= 2),
                     F.col("c")).otherwise(F.lit(0))).alias("dup5n"),
        F.sum(F.when(F.col("glen") == 5, F.col("c"))
               .otherwise(F.lit(0))).alias("dup5d"))
    base = sized.select(
        "doc_id", F.col("n").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("bigint").alias("n_distinct"))
    top2f = (F.col("top2") * 2).cast("double") / F.col("n_tokens").cast("double")
    top3f = (F.col("top3") * 3).cast("double") / F.col("n_tokens").cast("double")
    dup5f = F.col("dup5n").cast("double") / F.col("dup5d").cast("double")
    return (base.join(per, "doc_id")
            .select("doc_id", "n_tokens", "n_distinct",
                    top2f.alias("top2_frac"), top3f.alias("top3_frac"),
                    dup5f.alias("dup5_frac"),
                    (F.col("n_distinct").cast("double")
                     / F.col("n_tokens").cast("double"))
                    .alias("distinct_ratio"),
                    ((top2f > F.lit(_REP_TOP2_T))
                     | (dup5f > F.lit(_REP_DUP5_T)))
                    .alias("flag_repetitive")))


_DSIR_B = 1024            # hashed feature buckets
_DSIR_SCALE = 1_000_000   # likelihood-ratio quantum (1e-6)
_DSIR_TARGET = "src0"     # target domain = one source slice


@register(
    "dsir_importance",
    None,  # oracle patched below (needs the h32 helper)
    doc="DSIR-style data selection (Xie et al. 2023, 'Data Selection "
        "for Language Models via Importance Resampling'): hashed "
        "n-gram features (unigrams + bigrams -> {B} buckets via the "
        "engine-portable md5 h32), bucket distributions estimated for "
        "the TARGET domain (source='{t}') and the RAW corpus with "
        "add-one smoothing, and each doc scored by its features' "
        "target/raw likelihood ratios. Cross-engine exactness: the "
        "per-bucket ratio is floor-quantized to 1e-6 units ENTIRELY "
        "in int64 (numerator product <= ~1e16 at this SF; document "
        "DECIMAL(38,0) for trillion-token corpora), and the doc score "
        "is an exact integer sum of count*ratio_q — the arithmetic-"
        "mean-ratio variant of DSIR's log-ratio (chosen because ln() "
        "is the one scalar whose last bit differs across engines; at "
        "deploy time swap the quantized ratio for log p_t - log p_r "
        "and keep everything else). Plan shape: one explode pass -> "
        "bucket counts ({B} rows, broadcast back) -> per-doc "
        "conditional sum. Linear in corpus tokens; the only global "
        "state is the {B}-row ratio table.".format(
            B=_DSIR_B, t=_DSIR_TARGET),
)
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_tokens
    from ..operators.hashing import h32
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens(F.lower(F.col("text")))
    sized = (d.select("doc_id", "source", toks.alias("toks"))
              .withColumn("n", F.size("toks")).filter(F.col("n") >= 2))
    uni = (sized.select("doc_id", "source",
                        F.explode("toks").alias("tok"))
                .select("doc_id", "source",
                        (h32(F.col("tok")) % F.lit(_DSIR_B)).alias("b")))
    bi = (sized.select(
              "doc_id", "source", "toks",
              F.explode(F.sequence(F.lit(1),
                                   (F.col("n") - F.lit(1)).cast("int")))
               .alias("i"))
          .select("doc_id", "source",
                  (h32(F.concat_ws(" ", F.slice("toks", F.col("i"),
                                                F.lit(2))))
                   % F.lit(_DSIR_B)).alias("b")))
    feats = uni.unionByName(bi)
    # ONE pass over the exploded features builds both distributions
    # (raw count + conditional target count per bucket, map-side
    # combined to <= B rows per task); the totals then derive from
    # the B-row bucket table, not from a third corpus scan
    bc = feats.groupBy("b").agg(
        F.count("*").alias("c_r"),
        F.count(F.when(F.col("source") == _DSIR_TARGET, 1))
         .alias("c_t"))
    tot = bc.agg(F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t"))
    ratio = (bc.crossJoin(F.broadcast(tot))
               .select("b", F.expr(
                   f"((c_t + 1) * (n_r + {_DSIR_B}) "
                   f"* {_DSIR_SCALE}) div ((c_r + 1) * (n_t + {_DSIR_B}))")
                   .alias("r_q")))
    docf = feats.groupBy("doc_id", "b").agg(F.count("*").alias("k"))
    return (docf.join(F.broadcast(ratio), "b")
            .groupBy("doc_id")
            .agg(F.sum("k").cast("bigint").alias("n_feats"),
                 F.sum(F.col("k") * F.col("r_q")).cast("bigint")
                  .alias("score_q"))
            .select("doc_id", "n_feats", "score_q",
                    (F.col("score_q").cast("double")
                     / (F.col("n_feats").cast("double")
                        * float(_DSIR_SCALE))).alias("mean_ratio")))


def _dsir_sql() -> str:
    from .llm_ext import _h32_sql
    return f"""
    WITH base AS (
      SELECT doc_id, source, {_tok_sql()} AS toks FROM documents
    ),
    sized AS (
      SELECT doc_id, source, toks, len(toks) AS n FROM base
      WHERE len(toks) >= 2
    ),
    uni AS (
      SELECT doc_id, source, {_h32_sql('tok')} % {_DSIR_B} AS b
      FROM (SELECT doc_id, source, unnest(toks) AS tok FROM sized)
    ),
    bi AS (
      SELECT doc_id, source,
             {_h32_sql("array_to_string(toks[u.i:u.i+1], ' ')")}
               % {_DSIR_B} AS b
      FROM sized, LATERAL (SELECT unnest(range(1, n)) AS i) u
    ),
    feats AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
    cr AS (SELECT b, COUNT(*)::BIGINT AS c_r FROM feats GROUP BY b),
    ct AS (SELECT b, COUNT(*)::BIGINT AS c_t FROM feats
           WHERE source = '{_DSIR_TARGET}' GROUP BY b),
    tot AS (SELECT COUNT(*)::BIGINT AS n_r,
                   SUM(CASE WHEN source = '{_DSIR_TARGET}'
                            THEN 1 ELSE 0 END)::BIGINT AS n_t
            FROM feats),
    ratio AS (
      SELECT cr.b,
             ((COALESCE(ct.c_t, 0) + 1) * (t.n_r + {_DSIR_B})
              * {_DSIR_SCALE}) // ((cr.c_r + 1) * (t.n_t + {_DSIR_B}))
               AS r_q
      FROM cr LEFT JOIN ct USING (b) CROSS JOIN tot t
    ),
    docf AS (SELECT doc_id, b, COUNT(*)::BIGINT AS k
             FROM feats GROUP BY doc_id, b)
    SELECT d.doc_id,
           CAST(SUM(d.k) AS BIGINT) AS n_feats,
           CAST(SUM(d.k * r.r_q) AS BIGINT) AS score_q,
           CAST(SUM(d.k * r.r_q) AS BIGINT)::DOUBLE
             / (CAST(SUM(d.k) AS BIGINT)::DOUBLE * {_DSIR_SCALE}.0)
             AS mean_ratio
    FROM docf d JOIN ratio r USING (b) GROUP BY d.doc_id
    """


from . import QuerySpec as _QS3  # noqa: E402
from . import REGISTRY as _REG3  # noqa: E402
_REG3["dsir_importance"] = _QS3(
    fn=_REG3["dsir_importance"].fn, oracle=_dsir_sql(),
    doc=_REG3["dsir_importance"].doc)


_BAND_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))  # from the same 16 hashes


def _band_tuning_sql() -> str:
    def cand_cte(b: int, r: int) -> str:
        unions = " UNION ".join(
            f"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM sig a JOIN sig b
                  ON array_to_string(a.sig[{i * r + 1}:{i * r + r}], ',')
                     = array_to_string(b.sig[{i * r + 1}:{i * r + r}], ',')
                 AND a.doc_id < b.doc_id"""
            for i in range(b))
        return f"cand_{b}_{r} AS (SELECT DISTINCT doc_a, doc_b FROM ({unions}))"

    def stat_row(b: int, r: int) -> str:
        return f"""SELECT {b} AS bands, {r} AS rows_per_band,
               (SELECT COUNT(*) FROM cand_{b}_{r})::BIGINT AS n_candidates,
               (SELECT COUNT(*) FROM truth)::BIGINT AS n_true,
               (SELECT COUNT(*) FROM truth t JOIN cand_{b}_{r} c
                 ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)::BIGINT
                 AS n_caught"""

    cands = ",\n".join(cand_cte(b, r) for b, r in _BAND_CONFIGS)
    stats = " UNION ALL ".join(stat_row(b, r) for b, r in _BAND_CONFIGS)
    return f"""
    WITH {_sig_cte_sql()},
    hn AS (
      SELECT s.doc_id, d.lang, s.hsd, len(s.hsd) AS n
      FROM sig s JOIN documents d USING (doc_id)
    ),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM hn a JOIN hn b ON a.lang = b.lang AND a.doc_id < b.doc_id
       AND least(a.n, b.n)::DOUBLE >= 0.3 * greatest(a.n, b.n)::DOUBLE
      WHERE len(list_intersect(a.hsd, b.hsd))::DOUBLE
               / (a.n + b.n - len(list_intersect(a.hsd, b.hsd)))::DOUBLE
            >= 0.3
    ),
    {cands}
    SELECT bands, rows_per_band, n_candidates, n_true, n_caught,
           n_caught::DOUBLE / n_true::DOUBLE AS recall
    FROM ({stats})
    """


@register(
    "minhash_band_tuning",
    None,  # oracle patched below (built by a helper)
    doc="LSH banding tradeoff audit — the tuning table you read "
        "BEFORE choosing (bands, rows) for a 100 TB dedup run: from "
        "the SAME 16-hash MinHash signatures, evaluate every "
        "factorization (16x1, 8x2, 4x4, 2x8) and report candidate-"
        "pair volume (the cost axis: each candidate pays an exact-"
        "Jaccard verification) against recall of the exact truth "
        "pairs (within-language hashed-shingle Jaccard >= 0.3, the "
        "same truth as lsh_recall_audit). Banding theory says "
        "P(candidate) = 1-(1-J^r)^b — more bands/fewer rows moves "
        "the S-curve left (higher recall, more junk candidates); "
        "this measures the actual tradeoff on the actual corpus. "
        "Each config is one extra band-exploded self-join over the "
        "already-computed signature table (signatures are computed "
        "ONCE and persisted); rows are 4 tiny aggregates unioned.",
)
def minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import band_key, ngram_jaccard_pairs
    from .llm_ext import _signature_table
    d = load_table(spark, sf_dir, "documents")
    sig = persist(_signature_table(spark, sf_dir))
    truth = persist(ngram_jaccard_pairs(d, block_col="lang", threshold=0.3)
                    .select("doc_a", "doc_b"))
    n_true = truth.agg(F.count("*").cast("bigint").alias("n_true"))
    # ALL four configs ride ONE exploded self-join: each doc emits
    # sum-of-bands rows keyed (config, band, key), so candidate
    # generation is a single exchange pair instead of four joins +
    # four semi-joins (measured ~1.7x on the whole audit). Config id
    # rides inside the struct key, so pairs never cross configs.
    banded = sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("cfg"),
                     F.lit(i).alias("band"),
                     band_key(F.col("sig"), i, r).alias("key"))
            for b, r in _BAND_CONFIGS
            for i in range(b)])).alias("bk"))
    x, y = banded.alias("a"), banded.alias("b")
    cands = persist(x.join(y, (F.col("a.bk") == F.col("b.bk"))
                           & (F.col("a.doc_id") < F.col("b.doc_id")))
                     .select(F.col("a.bk.cfg").alias("cfg"),
                             F.col("a.doc_id").alias("doc_a"),
                             F.col("b.doc_id").alias("doc_b"))
                     .dropDuplicates(["cfg", "doc_a", "doc_b"]))
    n_cand = cands.groupBy("cfg").agg(
        F.count("*").cast("bigint").alias("n_candidates"))
    n_caught = (cands.join(truth, ["doc_a", "doc_b"], "left_semi")
                     .groupBy("cfg")
                     .agg(F.count("*").cast("bigint").alias("n_caught")))
    cfg_rows = F.array(*[F.struct(F.lit(b).alias("cfg"),
                                  F.lit(r).alias("rows_per_band"))
                         for b, r in _BAND_CONFIGS])
    cfgs = (sig.sparkSession.range(1)
               .select(F.explode(cfg_rows).alias("c"))
               .select("c.cfg", "c.rows_per_band"))
    return (cfgs.join(n_cand, "cfg", "left")
                .join(n_caught, "cfg", "left")
                .crossJoin(F.broadcast(n_true))
                .select(F.col("cfg").alias("bands"), "rows_per_band",
                        F.coalesce("n_candidates", F.lit(0).cast("bigint"))
                         .alias("n_candidates"),
                        "n_true",
                        F.coalesce("n_caught", F.lit(0).cast("bigint"))
                         .alias("n_caught"),
                        (F.coalesce("n_caught", F.lit(0).cast("bigint"))
                          .cast("double")
                         / F.col("n_true").cast("double"))
                        .alias("recall")))


_REG3["minhash_band_tuning"] = _QS3(
    fn=_REG3["minhash_band_tuning"].fn, oracle=_band_tuning_sql(),
    doc=_REG3["minhash_band_tuning"].doc)


@register(
    "ccnet_buckets",
    f"""
    WITH tgt AS (
      SELECT doc_id, {_tok_sql()} AS toks FROM documents
      WHERE source = '{_DSIR_TARGET}' AND length(trim(text)) > 0
    ),
    tbg AS (
      SELECT toks[i] AS w1, toks[i+1] AS w2
      FROM tgt, unnest(range(1, len(toks))) AS u(i)
    ),
    c12 AS (SELECT w1, w2, COUNT(*)::BIGINT AS c12 FROM tbg GROUP BY ALL),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
    stats AS (SELECT w1, w2, (c12 * {_LM_SCALE}) // c1 AS q
              FROM c12 JOIN c1 USING (w1)),
    base AS (
      SELECT doc_id, {_tok_sql()} AS toks FROM documents
      WHERE length(trim(text)) > 0
    ),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      FROM base, unnest(range(1, len(toks))) AS u(i)
    ),
    doc_bg AS (SELECT doc_id, w1, w2, COUNT(*) AS k FROM bg GROUP BY ALL),
    scored AS (
      SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_matched,
             CAST(SUM(k * q) AS BIGINT) AS score_q,
             (CAST(SUM(k * q) AS BIGINT)::DOUBLE
                / CAST(SUM(k) AS BIGINT)::DOUBLE) / {_LM_SCALE}.0
               AS mean_cond_prob
      FROM doc_bg JOIN stats USING (w1, w2) GROUP BY doc_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY mean_cond_prob DESC, doc_id)
                  AS rnk,
             COUNT(*) OVER () AS n
      FROM scored
    )
    SELECT doc_id, n_matched, score_q, mean_cond_prob,
           CASE WHEN rnk <= (n + 2) // 3 THEN 'head'
                WHEN rnk <= (2 * n + 2) // 3 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ranked
    """,
    doc="CCNet-style perplexity bucketing (Wenzek et al. 2020, the "
        "classic corpus-filtering pipeline): a bigram LM is trained "
        "on the TARGET domain only (source='{t}' — Wikipedia's role "
        "in CCNet), every document is scored by its mean target-LM "
        "conditional probability over matched bigrams (the exact "
        "integer-rational recipe of bigram_lm_scores, so scores are "
        "bit-portable — no libm log), and documents split into the "
        "head/middle/tail TERCILES CCNet keeps/inspects/drops. "
        "Terciles are exact rank thirds — rank by (score desc, "
        "doc_id) via the distributed two-pass prefix rank "
        "(operators/prefix.py), NEVER a single-partition global "
        "window; the oracle's row_number() OVER (ORDER BY ...) "
        "reproduces the identical total order because the sort key "
        "is a bit-exact double + unique tiebreak. Target LM tables "
        "are vocabulary-sized and broadcast back into the scoring "
        "join; docs sharing no bigram with the target LM are "
        "excluded (CCNet's unscorable bucket).".format(
            t=_DSIR_TARGET),
)
def ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_tokens
    from ..operators.prefix import with_global_running
    d = load_table(spark, sf_dir, "documents")
    base = (d.filter(F.length(F.trim("text")) > 0)
             .select("doc_id", "source",
                     word_tokens(F.lower(F.col("text"))).alias("toks"))
             .filter(F.size("toks") >= 2))
    bigrams = F.explode(F.expr(
        "transform(sequence(1, size(toks) - 1), "
        "i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).alias("b")
    # r5 perf flag fix: the old plan shuffled the ENTIRE exploded
    # bigram relation through a groupBy(doc_id, w1, w2) before the
    # broadcast stats join. Joining first and aggregating once per
    # doc is the same algebra (n_matched = SUM k = COUNT(*) over
    # matched occurrences; score_q = SUM k*q = SUM q) with one fewer
    # corpus-sized exchange — the only shuffle left on the corpus
    # path carries 5-column partial aggregates, one row per
    # (partition, doc). The broadcast join also shrinks the shuffled
    # rows to the MATCHED occurrences only.
    tbg = (base.filter(F.col("source") == _DSIR_TARGET)
               .select(bigrams).select("b.w1", "b.w2"))
    c12 = tbg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    stats = (c12.join(c1, "w1")
                .select("w1", "w2",
                        F.expr(f"(c12 * {_LM_SCALE}) DIV c1").alias("q")))
    bg = base.select("doc_id", bigrams).select("doc_id", "b.w1", "b.w2")
    scored = (bg.join(F.broadcast(stats), ["w1", "w2"])
                .groupBy("doc_id")
                .agg(F.count("*").cast("bigint").alias("n_matched"),
                     F.sum("q").cast("bigint").alias("score_q"))
                .select("doc_id", "n_matched", "score_q",
                        ((F.col("score_q").cast("double")
                          / F.col("n_matched").cast("double"))
                         / F.lit(float(_LM_SCALE)))
                        .alias("mean_cond_prob")))
    ranked = with_global_running(
        scored, [F.desc("mean_cond_prob"), F.asc("doc_id")],
        rank="rnk", totals=True)
    third1 = F.expr("(_n_total + 2) div 3")
    third2 = F.expr("(2 * _n_total + 2) div 3")
    return ranked.select(
        "doc_id", "n_matched", "score_q", "mean_cond_prob",
        F.when(F.col("rnk") <= third1, F.lit("head"))
         .when(F.col("rnk") <= third2, F.lit("middle"))
         .otherwise(F.lit("tail")).alias("bucket"))
