"""[EXT] third text-pipeline wave: dedup CLUSTERING (connected
components over near-dup pairs — pair emission alone under-deletes),
corpus vocabulary coverage, stopword scrubbing, and boilerplate
n-gram detection.

Oracle notes: the connected-components oracle is a DuckDB recursive
CTE computing min-reachable-node — exact transitive closure, feasible
because the sf0.01 pair graph is small; the Spark side is the real
distributed algorithm (``operators/components.py``). Everything else
follows the registry's decimal-exact-sum determinism policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import STOPWORDS, word_ngrams, word_tokens
from ..operators.cache import persist
from ..sources.registry import load_table
from . import register
from .llm_ext import STOPWORDS_SQL, _h32_sql, _shingles_sql, _tok_sql

# Shared CTE: the ngram-Jaccard near-dup pair list (same constants as
# the ngram_jaccard_pairs query: lang blocking, threshold 0.3).
# ``pairs_cte`` parameterizes the source relation so the pretraining
# funnel can run the same clustering over a filtered corpus.


def pairs_cte(src: str = "documents") -> str:
    return _PAIRS_CTE.replace("FROM documents", f"FROM {src}", 1)


_PAIRS_CTE = f"""
    base AS (
      SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, lang, {_shingles_sql()} AS sh FROM base WHERE len(toks) >= 3
    ),
    hs AS (
      SELECT doc_id, lang,
             list_distinct([('0x' || substr(md5(s), 1, 15))::BIGINT % 4294967296
                            for s in sh]) AS hsd
      FROM sh
    ),
    hn AS (SELECT doc_id, lang, hsd, len(hsd) AS n FROM hs),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM hn a JOIN hn b ON a.lang = b.lang AND a.doc_id < b.doc_id
       AND least(a.n, b.n)::DOUBLE >= 0.3 * greatest(a.n, b.n)::DOUBLE
      WHERE len(list_intersect(a.hsd, b.hsd))::DOUBLE
               / (a.n + b.n - len(list_intersect(a.hsd, b.hsd)))::DOUBLE >= 0.3
    )"""


@register(
    "dedup_clusters",
    f"""
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
      SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
    )
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           doc_id = cluster_id AS is_canonical
    FROM comp
    """,
    doc="Fuzzy-dedup clustering: near-dup pairs (exact n-gram Jaccard "
        ">= 0.3, lang-blocked) grouped into connected components by "
        "iterative min-label propagation "
        "(operators/components.py::connected_components). Each doc in "
        "the pair graph gets its cluster id (min doc_id in component) "
        "and a canonical flag — keep canonicals, drop the rest. The "
        "oracle computes the same closure with a recursive CTE. "
        "Diameter is data-dependent and unknown up front, so this "
        "defaults to connected_components_auto: min-label first, "
        "automatic fall-back to the O(log^2 n) star variant if the "
        "round budget is exhausted (never silently-wrong labels).",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components_auto
    from ..operators.dedup import ngram_jaccard_pairs
    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, block_col="lang", threshold=0.3) \
        .select("doc_a", "doc_b")
    labels = connected_components_auto(pairs, src="doc_a", dst="doc_b")
    w = Window.partitionBy("component")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        F.count("*").over(w).alias("cluster_size"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


@register(
    "dedup_clusters_star",
    f"""
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
      SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
    )
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           doc_id = cluster_id AS is_canonical
    FROM comp
    """,
    doc="Fuzzy-dedup clustering via alternating large-star/small-star "
        "(Kiveris et al. SoCC'14, operators/components.py::"
        "connected_components_star) — the O(log^2 n)-round variant "
        "whose round count is independent of component DIAMETER, vs "
        "min-label's O(diameter) (dedup_clusters). Same transitive-"
        "closure oracle, same output contract; ship both because the "
        "right choice is data-dependent: min-label wins on small "
        "dense near-dup clusters, star wins when duplicates chain "
        "(A~B~C~... drifting template versions).",
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components_star
    from ..operators.dedup import ngram_jaccard_pairs
    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, block_col="lang", threshold=0.3) \
        .select("doc_a", "doc_b")
    labels = connected_components_star(pairs, src="doc_a", dst="doc_b")
    w = Window.partitionBy("component")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        F.count("*").over(w).alias("cluster_size"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


@register(
    "vocab_coverage",
    f"""
    WITH toks AS (
      SELECT unnest({_tok_sql()}) AS term FROM documents
      WHERE length(trim(text)) > 0
    ),
    counts AS (SELECT term, COUNT(*) AS n_occurrences FROM toks GROUP BY term),
    total AS (SELECT SUM(n_occurrences) AS total FROM counts),
    ranked AS (
      SELECT term, n_occurrences,
             row_number() OVER (ORDER BY n_occurrences DESC, term) AS rank,
             SUM(n_occurrences) OVER (ORDER BY n_occurrences DESC, term
                                      ROWS UNBOUNDED PRECEDING) AS cum
      FROM counts
    )
    SELECT term, n_occurrences, rank,
           cum::DOUBLE / total::DOUBLE AS coverage
    FROM ranked CROSS JOIN total WHERE rank <= 50
    """,
    doc="Corpus vocabulary coverage: global term counts, rank by "
        "frequency, cumulative share of all tokens covered by the top "
        "k terms — the Zipf curve a tokenizer/vocab decision needs. "
        "The token explode + count is fully parallel; the global rank "
        "+ running sum over the vocabulary use the distributed "
        "two-pass prefix shape (operators/prefix.py) — no "
        "single-partition window even when the vocabulary itself is "
        "huge (byte-level n-gram vocabs at 100 TB are corpus-scale).",
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import with_global_running
    d = load_table(spark, sf_dir, "documents")
    toks = (d.filter(F.length(F.trim("text")) > 0)
             .select(F.explode(word_tokens(F.col("text"))).alias("term")))
    counts = toks.groupBy("term").agg(F.count("*").alias("n_occurrences"))
    ranked = with_global_running(
        counts, [F.desc("n_occurrences"), F.asc("term")],
        rank="rank", sum_col="n_occurrences", cum_name="cum", totals=True)
    return (ranked.filter(F.col("rank") <= 50)
                  .select("term", "n_occurrences",
                          F.col("rank").cast("int").alias("rank"),
                          (F.col("cum").cast("double")
                           / F.col("_sum_total").cast("double"))
                          .alias("coverage")))


@register(
    "stopword_scrub",
    f"""
    WITH t AS (
      SELECT doc_id, {_tok_sql()} AS toks FROM documents
    ),
    s AS (
      SELECT doc_id, toks,
             list_filter(toks, x -> x NOT IN {STOPWORDS_SQL}) AS kept
      FROM t
    )
    SELECT doc_id,
           len(toks)::BIGINT AS n_tokens_before,
           len(kept)::BIGINT AS n_tokens_after,
           md5(array_to_string(kept, ' ')) AS scrubbed_md5
    FROM s
    """,
    doc="Stopword scrubbing (text cleaning): drop stopword tokens, "
        "report before/after counts and the md5 of the scrubbed text. "
        "Pure projection (filter over the token array inside codegen) "
        "— no shuffle, linear scale. The md5 makes the transform's "
        "full output oracle-checkable without hauling text around.",
)
def stopword_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens(F.lower(F.col("text")))
    kept = F.filter(toks, lambda t: ~t.isin(*STOPWORDS))
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens_before"),
        F.size(kept).cast("bigint").alias("n_tokens_after"),
        F.md5(F.concat_ws(" ", kept).cast("binary")).alias("scrubbed_md5"),
    )


@register(
    "boilerplate_shingles",
    f"""
    WITH base AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest({_shingles_sql()}) AS shingle
      FROM base WHERE len(toks) >= 3
    ),
    df AS (
      SELECT shingle, COUNT(*) AS n_docs FROM sh GROUP BY shingle
    )
    SELECT shingle, n_docs,
           row_number() OVER (ORDER BY n_docs DESC, shingle) AS rank
    FROM df QUALIFY rank <= 20
    """,
    doc="Boilerplate detection: word-3-gram shingles ranked by "
        "document frequency — shingles appearing in many documents "
        "are template/boilerplate candidates to strip before "
        "training. Distinct-shingles-per-doc explode -> count -> "
        "top-k; the count table is shingle-vocabulary-sized, the "
        "explode is map-side. Top-k goes through "
        "TakeOrderedAndProject (distributed partial top-k, never a "
        "global sort or single-partition window); ranks are assigned "
        "by posexploding the one k-entry sorted array.",
)
def boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.core import rebalance
    d = load_table(spark, sf_dir, "documents")
    # no tokenizing pre-filter: short docs have an empty ngram array and
    # the explode drops them — the filter re-tokenized every doc in the
    # 1-2-task scan stage (deterministic filters push below the
    # repartition), serializing a regex pass the wide stage repeats
    sh = (rebalance(d)
           .select(F.explode(F.array_distinct(word_ngrams(F.col("text"), 3)))
                    .alias("shingle")))
    df = sh.groupBy("shingle").agg(F.count("*").alias("n_docs"))
    top = df.orderBy(F.desc("n_docs"), F.asc("shingle")).limit(20)
    # rank 1..k without any window: sort the k survivors inside one
    # array ((-n_docs, shingle) sorts struct-lexicographically into
    # the ranking order), then posexplode
    arr = F.array_sort(F.collect_list(
        F.struct((-F.col("n_docs")).alias("_neg"), "shingle", "n_docs")))
    return (top.agg(arr.alias("a"))
               .select(F.posexplode("a").alias("pos", "s"))
               .select(F.col("s.shingle").alias("shingle"),
                       F.col("s.n_docs").alias("n_docs"),
                       (F.col("pos") + 1).cast("int").alias("rank")))


_DECON_N = 5  # decontamination shingle width (word 5-grams)


@register(
    "decontamination_overlap",
    f"""
    WITH base AS (
      SELECT doc_id, source,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, source,
             list_distinct([('0x' || substr(md5(array_to_string(
                 toks[i:i+{_DECON_N - 1}], ' ')), 1, 15))::BIGINT % 4294967296
               for i in range(1, len(toks) - {_DECON_N - 2})]) AS hs
      FROM base WHERE len(toks) >= {_DECON_N}
    ),
    bench AS (SELECT doc_id AS bench_doc, unnest(hs) AS h FROM sh
              WHERE source = 'src0'),
    train AS (SELECT doc_id, unnest(hs) AS h FROM sh
              WHERE source <> 'src0')
    SELECT t.doc_id,
           COUNT(DISTINCT t.h) AS n_shared_shingles,
           COUNT(DISTINCT b.bench_doc) AS n_benchmark_docs
    FROM train t JOIN bench b ON t.h = b.h
    GROUP BY t.doc_id
    """,
    doc="Benchmark decontamination: training docs sharing any word-"
        f"{_DECON_N}-gram with the holdout set (source='src0' stands "
        "in for the benchmark corpus). Both sides reduce to 8-byte "
        "shingle hashes; the benchmark side is tiny and broadcasts, "
        "so cost is one linear pass over training shingles — the "
        "standard eval-leakage gate before pretraining. Contaminated "
        "docs report how many distinct shingles and benchmark docs "
        "they collide with.",
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.core import rebalance
    from ..operators.hashing import h32
    d = load_table(spark, sf_dir, "documents")
    # no tokenizing pre-filter: sub-shingle-width docs explode to zero
    # rows anyway (see boilerplate_shingles note)
    sh = (rebalance(d)
          .select("doc_id", "source",
                  F.explode(F.array_distinct(
                      F.transform(word_ngrams(F.col("text"), _DECON_N), h32)))
                   .alias("h")))
    bench = (sh.filter(F.col("source") == "src0")
               .select(F.col("doc_id").alias("bench_doc"), "h"))
    train = sh.filter(F.col("source") != "src0").select("doc_id", "h")
    return (train.join(F.broadcast(bench), "h")
                 .groupBy("doc_id")
                 .agg(F.countDistinct("h").alias("n_shared_shingles"),
                      F.countDistinct("bench_doc").alias("n_benchmark_docs")))


@register(
    "doc_commonness",
    f"""
    WITH base AS (
      SELECT doc_id, {_tok_sql()} AS toks FROM documents
      WHERE length(trim(text)) > 0
    ),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM base),
    freq AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
    total AS (SELECT SUM(c) AS t FROM freq),
    per_doc AS (
      SELECT tok.doc_id, COUNT(*) AS n_tokens, SUM(freq.c) AS s
      FROM tok JOIN freq USING (term) GROUP BY tok.doc_id
    )
    SELECT doc_id, n_tokens,
           s::DOUBLE / (n_tokens::DOUBLE * t::DOUBLE) AS commonness
    FROM per_doc CROSS JOIN total
    """,
    doc="Unigram-LM quality proxy: mean corpus probability of a "
        "document's tokens (high = boilerplate-common, low = rare/"
        "noisy — the cheap stand-in for a KenLM perplexity filter). "
        "Deliberately integer-exact: the per-doc statistic is a "
        "BIGINT sum of global counts, divided once at the end, so no "
        "float accumulation order or libm log can drift between "
        "engines. The frequency table is vocabulary-sized and "
        "broadcasts into the token stream.",
)
def doc_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = (d.filter(F.length(F.trim("text")) > 0)
            .select("doc_id",
                    F.explode(word_tokens(F.col("text"))).alias("term")))
    freq = tok.groupBy("term").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").alias("t"))
    per_doc = (tok.join(F.broadcast(freq), "term")
                  .groupBy("doc_id")
                  .agg(F.count("*").alias("n_tokens"),
                       F.sum("c").alias("s")))
    return (per_doc.crossJoin(F.broadcast(total))
                   .select("doc_id", "n_tokens",
                           (F.col("s").cast("double")
                            / (F.col("n_tokens").cast("double")
                               * F.col("t").cast("double")))
                            .alias("commonness")))


@register(
    "dup_degree_histogram",
    f"""
    WITH {_PAIRS_CTE},
    deg AS (
      SELECT doc_id, COUNT(*) AS degree FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL
        SELECT doc_b AS doc_id FROM pairs
      ) GROUP BY doc_id
    )
    SELECT degree, COUNT(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS example_doc
    FROM deg GROUP BY degree
    """,
    doc="Dedup diagnostics: the duplicate-degree distribution (how "
        "many near-dup partners each document has). Heavy-tailed "
        "degree = template explosion (one boilerplate page matching "
        "thousands) — the signal to add stricter blocking or drop the "
        "template before clustering; the histogram is what you check "
        "BEFORE running connected components at 100 TB, because a "
        "hub doc makes the pair list quadratic.",
)
def dup_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs
    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, block_col="lang", threshold=0.3) \
        .select("doc_a", "doc_b")
    # explode, not unionAll: a union of two selects over `pairs`
    # duplicates the whole pair-join subtree (Catalyst does not dedupe
    # repeated subplans) — the explode keeps one subtree
    deg = (pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
                .groupBy("doc_id").agg(F.count("*").alias("degree")))
    return deg.groupBy("degree").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("example_doc"))


@register(
    "doc_repetition_stats",
    f"""
    WITH t AS (
      SELECT doc_id, {_tok_sql()} AS toks FROM documents
      WHERE length(trim(text)) > 0
    ),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
    tf AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY doc_id, term),
    agg AS (
      SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_distinct,
             max(c) AS top_count
      FROM tf GROUP BY doc_id
    )
    SELECT doc_id, n_tokens::BIGINT AS n_tokens,
           n_distinct::BIGINT AS n_distinct,
           n_distinct::DOUBLE / n_tokens::DOUBLE AS distinct_ratio,
           top_count::DOUBLE / n_tokens::DOUBLE AS top_token_share
    FROM agg
    """,
    doc="Intra-document repetition stats (the Gopher/C4-style "
        "repetitiveness filter, orthogonal to cross-doc dedup): "
        "type/token ratio and the most-frequent-token share per "
        "document. Low distinct_ratio or a dominant token marks "
        "degenerate/templated text to drop before training. Explode "
        "-> per-doc term counts -> per-doc rollup; ratios are exact "
        "integer divisions.",
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = (d.filter(F.length(F.trim("text")) > 0)
            .select("doc_id",
                    F.explode(word_tokens(F.col("text"))).alias("term")))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    agg = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_count"))
    return agg.select(
        "doc_id", "n_tokens", "n_distinct",
        (F.col("n_distinct").cast("double")
         / F.col("n_tokens").cast("double")).alias("distinct_ratio"),
        (F.col("top_count").cast("double")
         / F.col("n_tokens").cast("double")).alias("top_token_share"))


_FH_DIM = 64  # feature-hashing buckets


@register(
    "hashed_doc_vectors",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_tok_sql()}) AS tok FROM documents
      WHERE length(trim(text)) > 0
    ),
    hashed AS (
      SELECT doc_id,
             ({_h32_sql('tok')} % {_FH_DIM})::INT AS bucket,
             CASE WHEN ({_h32_sql('tok')} // {_FH_DIM}) % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM toks
    ),
    buckets AS (
      SELECT doc_id, bucket, SUM(sgn) AS w FROM hashed
      GROUP BY doc_id, bucket
    ),
    dense AS (
      SELECT b.doc_id, d.d::INT AS dim, COALESCE(bk.w, 0) AS w
      FROM (SELECT DISTINCT doc_id FROM buckets) b
      CROSS JOIN (SELECT unnest(range(0, {_FH_DIM})) AS d) d
      LEFT JOIN buckets bk ON bk.doc_id = b.doc_id AND bk.bucket = d.d::INT
    )
    SELECT doc_id,
           array_to_string(list(CAST(w AS BIGINT) ORDER BY dim), ',') AS vec,
           CAST(SUM(w * w) AS BIGINT) AS sq_norm
    FROM dense GROUP BY doc_id
    """,
    doc="Feature hashing (the hashing trick): every token maps to one "
        "of {d} buckets by h32 with a +/-1 sign bit, giving each doc "
        "a dense {d}-dim integer vector with NO vocabulary pass — "
        "the featurization that turns raw text into ANN/classifier "
        "input at any scale (collision noise is unbiased thanks to "
        "the sign). Pure explode + hash-agg; integer weights make "
        "the vector and its squared norm exactly portable. At 100 TB "
        "this replaces a two-pass count-vectorizer whose vocabulary "
        "no longer fits anywhere.".format(d=_FH_DIM),
)
def hashed_doc_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.hashing import h32
    d = load_table(spark, sf_dir, "documents") \
        .filter(F.length(F.trim("text")) > 0)
    toks = d.select("doc_id",
                    F.explode(word_tokens(F.lower(F.col("text"))))
                     .alias("tok"))
    h = h32(F.col("tok"))
    hashed = toks.select(
        "doc_id", (h % _FH_DIM).cast("int").alias("bucket"),
        F.when((h / _FH_DIM).cast("bigint") % 2 == 0, 1).otherwise(-1)
         .alias("sgn"))
    buckets = (hashed.groupBy("doc_id", "bucket")
                     .agg(F.sum("sgn").alias("w")))
    # densify: collect (bucket, w) per doc, scatter into a 64-slot
    # array — map-side, no per-dim join
    dense = (buckets.groupBy("doc_id")
             .agg(F.map_from_entries(
                 F.array_sort(F.collect_list(F.struct("bucket", "w"))))
                 .alias("bw")))
    idx = F.sequence(F.lit(0), F.lit(_FH_DIM - 1))
    vec = F.transform(idx, lambda i: F.coalesce(
        F.element_at(F.col("bw"), i.cast("int")), F.lit(0).cast("bigint")))
    from ..functions.core import arr_str
    return dense.select(
        "doc_id", arr_str(vec).alias("vec"),
        F.aggregate(vec, F.lit(0).cast("bigint"),
                    lambda acc, w: acc + w * w).alias("sq_norm"))


_COLL_MIN = 5  # minimum bigram frequency


@register(
    "bigram_collocations",
    f"""
    WITH toks AS (
      SELECT doc_id, {_tok_sql()} AS t FROM documents
      WHERE length(trim(text)) > 0
    ),
    uni AS (
      SELECT unnest(t) AS w FROM toks
    ),
    ucnt AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    tot AS (SELECT COUNT(*) AS n FROM uni),
    bi AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) g
    ),
    bcnt AS (
      SELECT w1, w2, COUNT(*) AS cab FROM bi GROUP BY w1, w2
      HAVING COUNT(*) >= {_COLL_MIN}
    )
    SELECT b.w1, b.w2, b.cab,
           u1.c AS c1, u2.c AS c2,
           CAST(b.cab * (SELECT n FROM tot) AS DOUBLE)
             / CAST(u1.c * u2.c AS DOUBLE) AS lift
    FROM bcnt b
    JOIN ucnt u1 ON b.w1 = u1.w
    JOIN ucnt u2 ON b.w2 = u2.w
    ORDER BY lift DESC, b.w1, b.w2
    LIMIT 25
    """,
    doc="Collocation extraction (bigram lift — PMI's monotone twin "
        "without the libm log): adjacent-token pairs above a count "
        "floor, scored by cab*N/(c1*c2). All counts are exact "
        "integers whose products stay under 2^53, so the single "
        "double division is bit-portable (the PMI log would not "
        "be). The bigram explode is map-side (array slice per "
        "position); the unigram table is vocabulary-sized and "
        "broadcasts into the scoring join; top-k plans "
        "TakeOrderedAndProject. The standard phrase-mining / "
        "tokenizer-merge-candidate pass over a pretraining corpus.",
)
def bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents") \
        .filter(F.length(F.trim("text")) > 0)
    toks = d.select(word_tokens(F.lower(F.col("text"))).alias("t"))
    uni = toks.select(F.explode("t").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count("*").alias("c"))
    tot = uni.count()
    pairs = toks.select(F.explode(
        F.zip_with(F.slice("t", 1, F.size("t") - 1),
                   F.slice("t", 2, F.size("t") - 1),
                   lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))))
        .alias("p")).select("p.w1", "p.w2")
    bcnt = (pairs.groupBy("w1", "w2").agg(F.count("*").alias("cab"))
                 .filter(F.col("cab") >= _COLL_MIN))
    u1 = ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    lift = (F.col("cab") * F.lit(tot)).cast("double") \
        / (F.col("c1") * F.col("c2")).cast("double")
    return (bcnt.join(F.broadcast(u1), "w1")
                .join(F.broadcast(u2), "w2")
                .select("w1", "w2", "cab", "c1", "c2", lift.alias("lift"))
                .orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2"))
                .limit(25))


# --- PII detection + masking (the redaction pass every pretraining
#     corpus runs before tokenization: C4/Dolma-style email/phone/IP
#     scrubbing) ---

_PII_EMAIL = "[a-z0-9._]+@[a-z0-9]+\\.[a-z]{2,}"
_PII_PHONE = "555-01[0-9]{2}"
_PII_IP = "10\\.0\\.[0-9]{1,3}\\.[0-9]{1,3}"


@register(
    "pii_scrub_stats",
    f"""
    WITH enriched AS (
      SELECT doc_id, lang,
             text || ' contact ' || source || (doc_id % 7) ||
             '@mail' || (doc_id % 3) || '.example office 555-01' ||
             lpad((doc_id % 100)::VARCHAR, 2, '0') ||
             ' host 10.0.' || (doc_id % 256) || '.' ||
             ((doc_id * 7) % 256) AS t
      FROM documents
    ),
    scrubbed AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_email,
             len(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phone,
             len(regexp_extract_all(t, '{_PII_IP}')) AS n_ip,
             length(t) - length(
               regexp_replace(regexp_replace(regexp_replace(
                 t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_PHONE}', '<PHONE>', 'g'),
                 '{_PII_IP}', '<IP>', 'g')) AS delta
      FROM enriched
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_email) AS BIGINT) AS n_email,
           CAST(SUM(n_phone) AS BIGINT) AS n_phone,
           CAST(SUM(n_ip) AS BIGINT) AS n_ip,
           CAST(SUM(delta) AS BIGINT) AS masked_char_delta
    FROM scrubbed GROUP BY lang
    """,
    doc="PII redaction pass (the pre-tokenization scrub every "
        "pretraining corpus runs — emails, phone numbers, IPs → "
        "typed placeholder tokens): per-lang match counts plus the "
        "masked-length delta proving the three regexp_replace "
        "rewrites fired. The synthetic contact block appended to "
        "each doc is derived deterministically from (doc_id, source) "
        "so both engines scrub identical text — the testdata corpus "
        "itself contains no PII-shaped strings to exercise the "
        "patterns on. Pure map-side regex inside codegen (no UDF, no "
        "shuffle before the stats aggregate); at 100 TB this is the "
        "cheapest stage of the funnel and fuses with adjacent "
        "projections.",
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"), F.lit(" contact "), F.col("source"),
        (F.col("doc_id") % 7).cast("string"), F.lit("@mail"),
        (F.col("doc_id") % 3).cast("string"), F.lit(".example office 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit(" host 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit("."), ((F.col("doc_id") * 7) % 256).cast("string"))
    masked = F.regexp_replace(F.regexp_replace(F.regexp_replace(
        t, _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"), _PII_IP, "<IP>")
    e = d.select(
        "lang",
        F.regexp_count(t, F.lit(_PII_EMAIL)).alias("n_email"),
        F.regexp_count(t, F.lit(_PII_PHONE)).alias("n_phone"),
        F.regexp_count(t, F.lit(_PII_IP)).alias("n_ip"),
        (F.length(t) - F.length(masked)).alias("delta"))
    return (e.groupBy("lang")
             .agg(F.count("*").alias("n_docs"),
                  F.sum("n_email").cast("bigint").alias("n_email"),
                  F.sum("n_phone").cast("bigint").alias("n_phone"),
                  F.sum("n_ip").cast("bigint").alias("n_ip"),
                  F.sum("delta").cast("bigint").alias("masked_char_delta")))


# --- Data mixing + split hygiene (the two corpus-assembly steps
#     between dedup and tokenization) ---

_MIX_M = 1_000_000


@register(
    "mixture_rebalance",
    f"""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_before
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(n_before) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_src
      FROM counts
    ),
    kept AS (
      SELECT d.source
      FROM documents d
      JOIN counts c ON d.source = c.source
      CROSS JOIN tot
      WHERE ({_h32_sql("d.doc_id::VARCHAR")} % {_MIX_M})
              * c.n_before * tot.n_src < {_MIX_M} * tot.total
    )
    SELECT c.source, c.n_before,
           COALESCE(k.n_after, 0) AS n_after
    FROM counts c
    LEFT JOIN (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_after
               FROM kept GROUP BY source) k ON c.source = k.source
    """,
    doc="Data mixing (source reweighting toward a uniform target "
        "mix — the corpus-assembly step that downsamples dominant "
        "sources before tokenization): each source keeps "
        "min(1, target/current) of its docs via the deterministic "
        "h32 sampler, with the keep decision made in pure INTEGER "
        "arithmetic ((h %% M) * n_source * n_sources < M * total) so "
        "both engines pick the identical row set — no float rate, no "
        "rand(). One aggregate for the histogram, one broadcast join "
        "back, one map-side filter; at 100 TB the only shuffle is "
        "the source histogram (|sources| rows).",
)
def mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.hashing import h32
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_before"))
    tot = counts.agg(F.sum("n_before").cast("bigint").alias("total"),
                     F.count("*").cast("bigint").alias("n_src"))
    bucket = h32(F.col("doc_id").cast("string")) % _MIX_M
    kept = (d.join(F.broadcast(counts), "source")
             .crossJoin(F.broadcast(tot))
             .filter(bucket * F.col("n_before") * F.col("n_src")
                     < F.lit(_MIX_M) * F.col("total")))
    after = kept.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_after"))
    return (counts.join(after, "source", "left")
                  .select("source", "n_before",
                          F.coalesce("n_after", F.lit(0).cast("bigint"))
                           .alias("n_after")))


@register(
    "split_leakage_audit",
    f"""
    WITH {_PAIRS_CTE},
    labeled AS (
      SELECT doc_a, doc_b,
             ({_h32_sql("doc_a::VARCHAR")} % 100 < 90) AS a_train,
             ({_h32_sql("doc_b::VARCHAR")} % 100 < 90) AS b_train
      FROM pairs
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN a_train <> b_train THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cross_split,
           CAST(SUM(CASE WHEN a_train AND b_train THEN 1 ELSE 0 END)
                AS BIGINT) AS n_train_train,
           CAST(SUM(CASE WHEN NOT a_train AND NOT b_train THEN 1
                    ELSE 0 END) AS BIGINT) AS n_val_val
    FROM labeled
    """,
    doc="Train/val split leakage audit (the hygiene check every "
        "pretraining pipeline needs: a near-dup pair straddling the "
        "split leaks validation content into training): documents "
        "split 90/10 by the deterministic h32 sampler, near-dup "
        "pairs from the exact n-gram-Jaccard generator (prefix-"
        "filtered, lang-blocked — same operator as "
        "ngram_jaccard_pairs), each pair classified by which sides "
        "of the split it touches. n_cross_split > 0 means the split "
        "must move whole dedup CLUSTERS, not documents "
        "(dedup_clusters provides the cluster ids). Candidate "
        "generation is the bucketed prefix join — nothing quadratic.",
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs as op
    from ..operators.hashing import h32
    pairs = op(load_table(spark, sf_dir, "documents"),
               block_col="lang", threshold=0.3).select("doc_a", "doc_b")
    a_train = h32(F.col("doc_a").cast("string")) % 100 < 90
    b_train = h32(F.col("doc_b").cast("string")) % 100 < 90
    lab = pairs.select(a_train.alias("a_train"), b_train.alias("b_train"))
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")
    return lab.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        flag(F.col("a_train") != F.col("b_train")).alias("n_cross_split"),
        flag(F.col("a_train") & F.col("b_train")).alias("n_train_train"),
        flag(~F.col("a_train") & ~F.col("b_train")).alias("n_val_val"))


# --- BPE tokenizer training (iterative merge learning) ---

_BPE_ITERS = 3


def _bpe_iter_sql(prev: str, i: int) -> str:
    """One unrolled BPE iteration: adjacent-pair counts over the
    current symbol strings, argmax merge (count desc, pair lex asc),
    greedy left-to-right replace."""
    return f"""
pairs{i} AS (
  SELECT u.pr[1] AS aw, u.pr[2] AS bw, SUM(cnt) AS n
  FROM {prev},
       LATERAL (SELECT unnest(list_zip(
          list_slice(string_split(s, '%'), 1,
                     len(string_split(s, '%')) - 1),
          list_slice(string_split(s, '%'), 2,
                     len(string_split(s, '%'))))) AS pr) u
  GROUP BY 1, 2
),
m{i} AS (
  SELECT aw || '%' || bw AS pat,
         '|' || trim(aw, '|') || trim(bw, '|') || '|' AS repl,
         trim(aw, '|') || trim(bw, '|') AS merged, n
  FROM pairs{i} ORDER BY n DESC, aw ASC, bw ASC LIMIT 1
),
sym{i} AS (
  SELECT w, cnt,
         replace(s, (SELECT pat FROM m{i}), (SELECT repl FROM m{i})) AS s
  FROM {prev}
),
stat{i} AS (
  SELECT CAST({i} AS INT) AS step,
         (SELECT merged FROM m{i}) AS merged_symbol,
         (SELECT CAST(n AS BIGINT) FROM m{i}) AS pair_count,
         CAST(SUM(cnt * len(string_split(s, '%'))) AS BIGINT)
           AS corpus_symbols_after
  FROM sym{i}
)"""


def _bpe_oracle() -> str:
    iters = "".join("," + _bpe_iter_sql(f"sym{i-1}" if i > 1 else "sym0", i)
                    for i in range(1, _BPE_ITERS + 1))
    stats = " UNION ALL ".join(
        f"SELECT * FROM stat{i}" for i in range(1, _BPE_ITERS + 1))
    return f"""
    WITH toks AS (
      SELECT unnest({_tok_sql()}) AS w FROM documents
      WHERE length(trim(text)) > 0
    ),
    words AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks
      WHERE length(w) > 0 GROUP BY w
    ),
    sym0 AS (
      SELECT w, cnt,
             list_aggregate(list_transform(string_split(w, ''),
                                           c -> '|' || c || '|'),
                            'string_agg', '%') AS s
      FROM words
    )
    {iters}
    {stats}
    """


def _bpe_word_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word-frequency table BPE trains on (vocabulary-sized — the
    standard BPE reduction; persist() so every iteration's subtree
    reuses one corpus scan)."""
    d = load_table(spark, sf_dir, "documents")
    toks = (d.filter(F.length(F.trim("text")) > 0)
             .select(F.explode(word_tokens(F.lower(F.col("text"))))
                      .alias("w"))
             .filter(F.length("w") > 0))
    return persist(toks.groupBy("w")
                       .agg(F.count("*").cast("bigint").alias("cnt")))


def _bpe_sym0(words: DataFrame) -> DataFrame:
    """Initial symbolization: each word as '|c|%|c|%...' (delimiter-
    wrapped chars so greedy replace() is exactly BPE's merge scan)."""
    return words.withColumn(
        "s", F.array_join(
            F.transform(F.split("w", ""),
                        lambda c: F.concat(F.lit("|"), c, F.lit("|"))),
            "%"))


def _bpe_one_merge(sym: DataFrame) -> DataFrame:
    """One BPE iteration: count adjacent symbol pairs (weighted by
    word count), broadcast the argmax pair (ties: count desc, pair lex
    asc), apply the greedy left-to-right replace. Returns sym with the
    merge metadata still attached (_pat/_repl/_merged/_n) — callers
    read what they need, then drop."""
    syms = F.split("s", "%")
    prs = F.zip_with(
        F.slice(syms, 1, F.size(syms) - 1),
        F.slice(syms, 2, F.size(syms) - 1),
        lambda a, b: F.struct(a.alias("aw"), b.alias("bw")))
    pairs = (sym.select(F.explode(prs).alias("p"), "cnt")
                .groupBy("p.aw", "p.bw")
                .agg(F.sum("cnt").alias("n")))
    bare = lambda c: F.expr(f"trim(BOTH '|' FROM {c})")
    m = (pairs.orderBy(F.desc("n"), F.asc("aw"), F.asc("bw")).limit(1)
              .select(F.concat("aw", F.lit("%"), "bw").alias("_pat"),
                      F.concat(F.lit("|"), bare("aw"), bare("bw"),
                               F.lit("|")).alias("_repl"),
                      F.concat(bare("aw"), bare("bw"))
                       .alias("_merged"),
                      F.col("n").cast("bigint").alias("_n")))
    return (sym.crossJoin(F.broadcast(m))
               .withColumn("s", F.replace("s", F.col("_pat"),
                                          F.col("_repl"))))


@register(
    "bpe_merges",
    _bpe_oracle(),
    doc="BPE tokenizer training (the merge-learning loop of "
        "byte-pair encoding) as a distributed iterative operator — "
        "the tokenizer-side sibling of kmeans/PageRank: each of "
        "{k} iterations counts adjacent symbol pairs over the "
        "word-frequency table (weighted by word count — the standard "
        "BPE reduction: corpus-size independent, vocabulary-sized "
        "state), broadcasts the argmax pair (ties: count desc, pair "
        "lex asc), and applies the merge with a greedy left-to-right "
        "literal replace over delimiter-wrapped symbol strings "
        "('|a|%|b|' -> '|ab|'; the wrapping makes adjacent "
        "occurrences share no boundary chars, so both engines' "
        "non-overlapping replace() is exactly BPE's greedy scan). "
        "Fully declarative: the 3-step chain is one plan with three "
        "broadcast argmax joins, no driver loop; the oracle is the "
        "same recurrence unrolled in SQL. Output per step: learned "
        "merge, its pair count, and the corpus symbol count after "
        "applying it (monotonically decreasing).".format(k=_BPE_ITERS),
)
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = _bpe_word_table(spark, sf_dir)
    sym = _bpe_sym0(words)
    out_rows = []
    for i in range(1, _BPE_ITERS + 1):
        # pin each step's symbol table: the per-step stat AND the next
        # step's pair count both read it, and each _bpe_one_merge
        # additionally reads its input twice (pair count + argmax
        # broadcast build) — unpinned, step i re-executed steps 1..i-1
        # ~2x each (chained-lineage iterative failure mode, the
        # ann_beam_search_topk fix). The pinned frame is the
        # vocabulary-sized symbol table, not corpus data.
        sym = persist(_bpe_one_merge(sym))
        stat = (sym.agg(
                    F.sum(F.col("cnt") * F.size(F.split("s", "%")))
                     .cast("bigint").alias("corpus_symbols_after"),
                    F.first("_merged").alias("merged_symbol"),
                    F.first("_n").alias("pair_count"))
                .select(F.lit(i).cast("int").alias("step"),
                        "merged_symbol", "pair_count",
                        "corpus_symbols_after"))
        out_rows.append(stat)
        sym = sym.drop("_pat", "_repl", "_merged", "_n")  # cache-backed
    out = out_rows[0]
    for r in out_rows[1:]:
        out = out.unionByName(r)
    return out


def _bpe_encode_oracle() -> str:
    iters = "".join("," + _bpe_iter_sql(f"sym{i-1}" if i > 1 else "sym0", i)
                    for i in range(1, _BPE_ITERS + 1))
    return f"""
    WITH dtoks AS (
      SELECT doc_id, unnest({_tok_sql()}) AS w FROM documents
      WHERE length(trim(text)) > 0
    ),
    dwords AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS cnt FROM dtoks
      WHERE length(w) > 0 GROUP BY doc_id, w
    ),
    words AS (
      SELECT w, CAST(SUM(cnt) AS BIGINT) AS cnt FROM dwords GROUP BY w
    ),
    sym0 AS (
      SELECT w, cnt,
             list_aggregate(list_transform(string_split(w, ''),
                                           c -> '|' || c || '|'),
                            'string_agg', '%') AS s
      FROM words
    )
    {iters},
    enc AS (
      SELECT w, CAST(len(string_split(s, '%')) AS BIGINT) AS n_sym
      FROM sym{_BPE_ITERS}
    )
    SELECT d.doc_id,
           CAST(SUM(d.cnt) AS BIGINT) AS n_words,
           CAST(SUM(d.cnt * len(d.w)) AS BIGINT) AS n_chars_tok,
           CAST(SUM(d.cnt * e.n_sym) AS BIGINT) AS n_tokens
    FROM dwords d JOIN enc e ON d.w = e.w
    GROUP BY d.doc_id
    """


@register(
    "bpe_encode_docs",
    _bpe_encode_oracle(),
    doc="BPE ENCODE — apply the merges bpe_merges learned to tokenize "
        "the corpus (the other half of the tokenizer lifecycle: train "
        "once, encode everything): the same {k}-step merge recurrence "
        "runs over the vocabulary-sized word table, each word's final "
        "symbol count is its encoded token length, and documents get "
        "their token counts by joining their (word, count) profile to "
        "that word->length map — the corpus is never re-scanned per "
        "merge, and the join key is the word, so the encode cost is "
        "corpus-pass + vocab-sized iterations, which is why real "
        "tokenizers precompute word->tokens caches. Output per doc: "
        "whitespace-token count, pre-merge symbol (char) count, and "
        "post-merge BPE token count — n_tokens/n_chars_tok is the "
        "compression the learned merges bought; the per-doc "
        "tokens-per-doc histogram is what a pretraining pipeline "
        "feeds the sequence packer (pack_sequences)."
        .format(k=_BPE_ITERS),
)
def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    dtoks = (d.filter(F.length(F.trim("text")) > 0)
              .select("doc_id",
                      F.explode(word_tokens(F.lower(F.col("text"))))
                       .alias("w"))
              .filter(F.length("w") > 0))
    dwords = persist(dtoks.groupBy("doc_id", "w")
                          .agg(F.count("*").cast("bigint").alias("cnt")))
    words = dwords.groupBy("w").agg(F.sum("cnt").cast("bigint")
                                     .alias("cnt"))
    sym = _bpe_sym0(words)
    for _ in range(_BPE_ITERS):
        # pin per step — _bpe_one_merge reads its input twice (pair
        # count + argmax broadcast build); see bpe_merges
        sym = persist(_bpe_one_merge(sym)
                      .drop("_pat", "_repl", "_merged", "_n"))
    enc = sym.select("w", F.size(F.split("s", "%")).cast("bigint")
                          .alias("n_sym"))
    return (dwords.join(enc, "w")
                  .groupBy("doc_id")
                  .agg(F.sum("cnt").cast("bigint").alias("n_words"),
                       F.sum(F.col("cnt") * F.length("w")).cast("bigint")
                        .alias("n_chars_tok"),
                       F.sum(F.col("cnt") * F.col("n_sym")).cast("bigint")
                        .alias("n_tokens")))


@register(
    "dup_cluster_size_histogram",
    f"""
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
      SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
    ),
    sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM comp GROUP BY cluster_id)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           COUNT(*)::BIGINT AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(sz - 1) AS BIGINT) AS n_removable
    FROM sizes GROUP BY sz
    """,
    doc="Duplicate-cluster size distribution — the corpus-health "
        "chart a curation team reads after fuzzy dedup: how many "
        "clusters exist at each size, how many documents they hold, "
        "and how many are removable (size-1 per cluster under the "
        "keep-canonical rule — the exact document count dedup will "
        "delete). A long tail of large clusters means boilerplate/"
        "template contamination; mostly-pairs means true near-dups. "
        "One extra two-level aggregate over the connected-components "
        "labels (diameter-safe via connected_components_auto); "
        "output is bounded by the largest cluster size.",
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components_auto
    from ..operators.dedup import ngram_jaccard_pairs
    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, block_col="lang", threshold=0.3) \
        .select("doc_a", "doc_b")
    labels = connected_components_auto(pairs, src="doc_a", dst="doc_b")
    sizes = labels.groupBy("component").agg(F.count("*").alias("sz"))
    return (sizes.groupBy("sz")
            .agg(F.count("*").cast("bigint").alias("n_clusters"),
                 F.sum("sz").cast("bigint").alias("n_docs"),
                 F.sum(F.col("sz") - 1).cast("bigint")
                  .alias("n_removable"))
            .select(F.col("sz").cast("bigint").alias("cluster_size"),
                    "n_clusters", "n_docs", "n_removable"))
