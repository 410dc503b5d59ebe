"""[EXT] LLM-training-data pipeline queries (SURVEY.md §0 north star,
§7 step 7): dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard),
similarity search (brute-force + LSH-bucketed ANN), and text analysis
(token counting, quality scoring, language ID, fingerprinting) over
the ``documents`` and ``embeddings`` tables.

Everything is native-expression Spark (split / transform / aggregate /
zip_with) — zero Python in the hot path. The DuckDB oracles mirror the
exact same integer/double arithmetic so results are bit-identical:

- token hash = first 15 hex digits of md5 → bigint (shared primitive
  both engines can compute), reduced mod 2^32 so a*h+b stays in int64;
- MinHash uses 16 universal-hash functions (a_i*h32+b_i) mod (2^61-1)
  with constants pinned below;
- SimHash is 32-bit over whitespace-token hashes;
- cosine is computed in double with left-to-right accumulation in both
  engines.

At 100 TB: all of these are embarrassingly parallel per-row maps
followed by hash-agg / bucketed self-joins on short keys (bands,
simhash bytes, labels) — never an O(n²) cross join. LSH banding keeps
candidate generation linear in data size; band-bucket skew is handled
by AQE skew-join splitting.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import word_ngrams, word_tokens
from ..operators.cache import persist
from ..sources.registry import load_table
from . import register

# --- pinned constants (same values feed Spark exprs and oracle SQL) ---

_P61 = (1 << 61) - 1        # MinHash modulus
_FP_P = 2147483647          # fingerprint modulus (2^31-1, overflow-safe)
_H32 = 1 << 32              # token-hash reduction

_rng = random.Random(42)
MINHASH_COEFFS: list[tuple[int, int]] = [
    (_rng.randrange(1, 1 << 30), _rng.randrange(0, 1 << 30)) for _ in range(16)
]
_BANDS = 4  # 4 bands × 4 rows for LSH

_rng2 = random.Random(7)
HYPERPLANES: list[list[float]] = [
    [round(_rng2.uniform(-1, 1), 6) for _ in range(64)] for _ in range(8)
]

STOPWORDS_SQL = "('the','a','an','and','or','of','to','in','is','it')"


# --- shared expression builders (Spark side) ---

def _tok_sql(expr: str = "text") -> str:
    """Oracle: whitespace tokens of lowercased text."""
    return f"string_split_regex(trim(lower({expr})), '\\s+')"


def _h32_sql(var: str) -> str:
    return f"(('0x' || substr(md5({var}), 1, 15))::BIGINT % {_H32})"


def _shingles_sql() -> str:
    """Oracle: distinct word-3-gram shingles of lowercased text."""
    return ("list_distinct([array_to_string(toks[i:i+2], ' ') "
            "for i in range(1, len(toks) - 1)])")


def _minhash_sql_list() -> str:  # noqa: D103
    """Oracle: the 16-element MinHash signature list over a hashed-
    shingle list column ``hs``."""
    exprs = ", ".join(
        f"list_aggregate([({a} * h + {b}) % {_P61} for h in hs], 'min')"
        for a, b in MINHASH_COEFFS)
    return f"[{exprs}]"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@register(
    "text_stats",
    f"""
    WITH t AS (
      SELECT doc_id, lang, text,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks,
             length(text) AS n
      FROM documents
    )
    SELECT doc_id, lang,
           len(toks)::BIGINT AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^\\sA-Za-z0-9_]'))::BIGINT AS n_tokens_bpe,
           CASE WHEN n = 0 THEN 0.0 ELSE
             (n - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE / n::DOUBLE
           END AS punct_ratio,
           CASE WHEN len(toks) = 0 THEN 0.0 ELSE
             len(list_filter(toks, x -> lower(x) IN {STOPWORDS_SQL}))::DOUBLE
               / len(toks)::DOUBLE
           END AS stopword_ratio
    FROM t
    """,
    doc="Per-document text statistics: whitespace + BPE-ish token "
        "counts, punctuation ratio, stopword ratio. Pure projection — "
        "no shuffle, scales linearly.",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import punct_ratio, token_count
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens(F.col("text"))
    stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(
        "the", "a", "an", "and", "or", "of", "to", "in", "is", "it")))
    return d.select(
        "doc_id", "lang",
        token_count(F.col("text")).alias("n_tokens"),
        token_count(F.col("text"), "bpe").alias("n_tokens_bpe"),
        punct_ratio(F.col("text")).alias("punct_ratio"),
        F.when(F.size(toks) == 0, F.lit(0.0))
         .otherwise(stop.cast("double") / F.size(toks).cast("double"))
         .alias("stopword_ratio"),
    )


@register(
    "quality_by_source",
    f"""
    WITH t AS (
      SELECT source,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks,
             length(text) AS n, text
      FROM documents
    ), q AS (
      SELECT source,
        0.4 * least(1.0, len(toks)::DOUBLE / 64.0)
        + 0.3 * (1.0 - CASE WHEN n = 0 THEN 0.0 ELSE
            (n - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE / n::DOUBLE END)
        + 0.3 * least(1.0, 4.0 * CASE WHEN len(toks) = 0 THEN 0.0 ELSE
            len(list_filter(toks, x -> lower(x) IN {STOPWORDS_SQL}))::DOUBLE
              / len(toks)::DOUBLE END) AS quality
      FROM t
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CAST(quality AS DECIMAL(38,6))) AS DOUBLE) AS total_quality,
           COUNT(CASE WHEN quality >= 0.8 THEN 1 END) AS n_high_quality
    FROM q GROUP BY source
    """,
    doc="Quality scoring (length/punct/stopword heuristic in [0,1]) + "
        "per-source rollup — the keep/drop gate of a pretraining "
        "filter pipeline.",
)
def quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import quality_score
    d = load_table(spark, sf_dir, "documents")
    q = d.select("source", quality_score(F.col("text")).alias("quality"))
    return q.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("quality").cast("decimal(38,6)")).cast("double")
         .alias("total_quality"),
        F.count(F.when(F.col("quality") >= 0.8, 1)).alias("n_high_quality"),
    )


def _langid_sql() -> str:
    from ..functions.text import _LANG_MARKERS
    score_cols, case_arms = [], []
    for lang, markers in sorted(_LANG_MARKERS.items()):
        terms = " + ".join(
            f"CASE WHEN strpos(lower(text), '{m}') > 0 THEN 1 ELSE 0 END"
            for m in markers)
        score_cols.append(f"({terms}) AS s_{lang}")
    # tie-break = alphabetically-last language (struct-max semantics)
    for lang in sorted(_LANG_MARKERS, reverse=True):
        case_arms.append(f"WHEN s_{lang} = mx THEN '{lang}'")
    return f"""
    WITH s AS (SELECT doc_id, lang, {', '.join(score_cols)} FROM documents),
    p AS (SELECT lang, greatest(s_de, s_en, s_es, s_fr, s_zh) AS mx,
                 s_de, s_en, s_es, s_fr, s_zh FROM s)
    SELECT lang, CASE WHEN mx = 0 THEN 'und' {' '.join(case_arms)} END AS predicted,
           COUNT(*) AS n_docs
    FROM p GROUP BY 1, 2
    """


@register(
    "lang_id_confusion",
    None,  # oracle injected below via register-time call
    doc="N-gram-marker language ID vs the labeled lang column — "
        "confusion-matrix counts. Scoring is score-per-language + "
        "struct-argmax, all JVM-side.",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import lang_id_heuristic
    d = load_table(spark, sf_dir, "documents")
    return (d.select("lang", lang_id_heuristic(F.col("text")).alias("predicted"))
             .groupBy("lang", "predicted").agg(F.count("*").alias("n_docs")))


# patch in the generated oracle (needs _LANG_MARKERS import at def time)
from . import REGISTRY as _REG  # noqa: E402
from . import QuerySpec as _QS  # noqa: E402
_REG["lang_id_confusion"] = _QS(
    fn=_REG["lang_id_confusion"].fn, oracle=_langid_sql(),
    doc=_REG["lang_id_confusion"].doc)


@register(
    "doc_fingerprints",
    f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN []::BIGINT[]
                  ELSE [{_h32_sql('tok')} for tok in {_tok_sql()}] END AS hs
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN len(hs) = 0 THEN 0
                ELSE list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                                 (acc, x) -> (acc * 31 + x) % {_FP_P})
           END AS fingerprint
    FROM t
    """,
    doc="Rolling-hash document fingerprint (fold over token hashes, "
        "mod 2^31-1): order-sensitive, so reordered-token docs get "
        "different prints (unlike MinHash). Single projection.",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_fingerprint
    return dedup_fingerprint(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    doc="Exact dedup: hash-groupBy on md5(text), keep lowest doc_id. "
        "One shuffle on the 128-bit hash (never on the raw text — at "
        "100 TB the shuffle payload is 16 bytes/row, not the document).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_exact as op
    return op(load_table(spark, sf_dir, "documents"))


def _sig_cte_sql() -> str:
    """Oracle CTEs: hashed distinct shingles ``hsd`` + signature list
    ``sig`` per doc (mirrors :func:`_signature_table`)."""
    return f"""
    base AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, {_shingles_sql()} AS sh FROM base WHERE len(toks) >= 3
    ),
    hs AS (
      SELECT doc_id, list_distinct([{_h32_sql('s')} for s in sh]) AS hs FROM sh
    ),
    sig AS (
      SELECT doc_id, hs AS hsd, {_minhash_sql_list()} AS sig FROM hs
    )"""


def _signature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_signatures as op
    return op(load_table(spark, sf_dir, "documents"), MINHASH_COEFFS)


@register(
    "minhash_signatures",
    f"""
    WITH {_sig_cte_sql()}
    SELECT doc_id, array_to_string(sig, ',') AS sig FROM sig
    """,
    doc="MinHash signatures: distinct word-3-gram shingles → 16 "
        "universal-hash minima, computed in a single array-aggregate "
        "pass (md5 once per shingle). One round-robin rebalance before "
        "the projection (compute-bound on small bytes); the signature "
        "is 128 bytes regardless of document size. Output serialized "
        "to a comma-joined string (driver canonicalizer cannot hash "
        "list cells — CORRECTNESS_r01).",
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.core import arr_str
    from ..operators.dedup import _spread
    from ..operators.hashing import minhash_signature
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens(F.lower(F.col("text")))
    sh = word_ngrams(F.col("text"), 3)
    return (_spread(d.filter(F.size(toks) >= 3))
             .select("doc_id",
                     arr_str(minhash_signature(sh, MINHASH_COEFFS))
                     .alias("sig")))


def _band_key(sig: Column, band: int) -> Column:
    return F.concat_ws(",", F.transform(
        F.slice(sig, band * 4 + 1, 4), lambda v: v.cast("string")))


_BAND_JOIN_SQL = " UNION ".join(
    f"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.hsd AS h_a, b.hsd AS h_b
        FROM sig a JOIN sig b
          ON array_to_string(a.sig[{band * 4 + 1}:{band * 4 + 4}], ',')
             = array_to_string(b.sig[{band * 4 + 1}:{band * 4 + 4}], ',')
         AND a.doc_id < b.doc_id"""
    for band in range(_BANDS))


@register(
    "minhash_lsh_pairs",
    f"""
    WITH {_sig_cte_sql()},
    cand AS ({_BAND_JOIN_SQL})
    SELECT doc_a, doc_b,
           len(list_intersect(h_a, h_b))::DOUBLE
             / (len(h_a) + len(h_b) - len(list_intersect(h_a, h_b)))::DOUBLE AS jaccard
    FROM cand
    WHERE len(list_intersect(h_a, h_b))::DOUBLE
             / (len(h_a) + len(h_b) - len(list_intersect(h_a, h_b)))::DOUBLE >= 0.3
    """,
    doc="MinHash+LSH near-dup pairs: 4 bands × 4 rows; candidates from "
        "band-bucket equality self-joins (linear, never O(n²)), then "
        "exact hashed-shingle Jaccard ≥ 0.3 verification. The canonical "
        "fuzzy-dedup plan for pretraining corpora.",
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_duplicate_pairs
    return minhash_lsh_duplicate_pairs(
        load_table(spark, sf_dir, "documents"), MINHASH_COEFFS,
        bands=_BANDS, threshold=0.3)


_HUB_CAP = 64  # band-bucket size above which a bucket is a template hub

_BANDED_SQL = " UNION ALL ".join(
    f"""SELECT doc_id, {band} AS band,
               array_to_string(sig[{band * 4 + 1}:{band * 4 + 4}], ',')
                 AS key
        FROM sig"""
    for band in range(_BANDS))

_JACCARD_SQL = ("len(list_intersect(h_a, h_b))::DOUBLE / (len(h_a) + "
                "len(h_b) - len(list_intersect(h_a, h_b)))::DOUBLE")


@register(
    "minhash_lsh_pairs_hub_capped",
    f"""
    WITH {_sig_cte_sql()},
    banded AS ({_BANDED_SQL}),
    deg AS (
      SELECT band, key, COUNT(*) AS n, MIN(doc_id) AS rep
      FROM banded GROUP BY band, key
    ),
    bd AS (
      SELECT b.doc_id, b.band, b.key, d.n, d.rep
      FROM banded b JOIN deg d USING (band, key)
    ),
    small_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bd a JOIN bd b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      WHERE a.n <= {_HUB_CAP}
    ),
    star_pairs AS (
      SELECT rep AS doc_a, doc_id AS doc_b FROM bd
      WHERE n > {_HUB_CAP} AND doc_id != rep
    ),
    cand AS (
      SELECT DISTINCT doc_a, doc_b FROM (
        SELECT * FROM small_pairs UNION ALL SELECT * FROM star_pairs)
    ),
    j AS (
      SELECT c.doc_a, c.doc_b, sa.hsd AS h_a, sb.hsd AS h_b
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, {_JACCARD_SQL} AS jaccard
    FROM j WHERE {_JACCARD_SQL} >= 0.3
    """,
    doc="Skew-hardened MinHash+LSH near-dup pairs — the 100 TB deploy "
        "path for the boilerplate-hub case (SCALE.md: 10^4+ copies of "
        "one template put 10^4 rows in ONE band bucket; the bucket "
        "self-join then owes ~n²/2 pairs from a single join key, "
        "CPU-quadratic skew AQE cannot split below one key). A "
        "(band, key) count classifies buckets up front; <= 64-member "
        "buckets take the normal pair join (per-bucket fan-out capped "
        "at C(64,2) by construction), over-cap buckets collapse to "
        "rep->member STAR edges (n-1 rows, not n²/2) — connected "
        "components over stars equal the clique's whenever members "
        "verify against the rep (template copies: J = 1). Candidates "
        "carry IDs only; shingle sets re-join for exact-Jaccard "
        "verification. Identical output to minhash_lsh_pairs when no "
        "bucket exceeds the cap (pinned by test_sources_and_skew).",
)
def minhash_lsh_pairs_hub_capped(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_duplicate_pairs_hub_capped
    return minhash_lsh_duplicate_pairs_hub_capped(
        load_table(spark, sf_dir, "documents"), MINHASH_COEFFS,
        bands=_BANDS, threshold=0.3, hub_cap=_HUB_CAP)


@register(
    "ngram_jaccard_pairs",
    f"""
    WITH base AS (
      SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, lang, {_shingles_sql()} AS sh FROM base WHERE len(toks) >= 3
    ),
    hs AS (
      SELECT doc_id, lang, list_distinct([{_h32_sql('s')} for s in sh]) AS hsd
      FROM sh
    ),
    hn AS (SELECT doc_id, lang, hsd, len(hsd) AS n FROM hs)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.hsd, b.hsd))::DOUBLE
             / (a.n + b.n - len(list_intersect(a.hsd, b.hsd)))::DOUBLE AS jaccard
    FROM hn a JOIN hn b ON a.lang = b.lang AND a.doc_id < b.doc_id
     AND least(a.n, b.n)::DOUBLE >= 0.3 * greatest(a.n, b.n)::DOUBLE
    WHERE len(list_intersect(a.hsd, b.hsd))::DOUBLE
             / (a.n + b.n - len(list_intersect(a.hsd, b.hsd)))::DOUBLE >= 0.3
    """,
    doc="Exact n-gram Jaccard with language blocking — the brute "
        "baseline the LSH plan approximates (quadratic within a block "
        "by design). Two exact cost cuts: a size-ratio prefilter "
        "(J(A,B) <= min/max of the set sizes, so pairs failing the "
        "ratio can never reach the threshold — no false negatives) and "
        "|A∪B| = na+nb-|A∩B| so only the intersection is materialized. "
        "Shingles compared as 8-byte hashes, not strings.",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs as op
    return op(load_table(spark, sf_dir, "documents"), block_col="lang",
              threshold=0.3)


_SIMHASH_BITS = 32


def _simhash_sql() -> str:
    bits = " + ".join(
        f"CASE WHEN list_sum([((h >> {b}) & 1) * 2 - 1 for h in hs]) > 0 "
        f"THEN {1 << b} ELSE 0 END"
        for b in range(_SIMHASH_BITS))
    return f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN []::BIGINT[]
                  ELSE [{_h32_sql('tok')} for tok in {_tok_sql()}] END AS hs
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN len(hs) = 0 THEN 0 ELSE CAST({bits} AS BIGINT) END AS simhash
    FROM t
    """


@register(
    "simhash_docs",
    None,
    doc="32-bit SimHash per document over whitespace-token hashes — "
        "per-bit majority vote, computed as 32 array-aggregates in one "
        "projection (no explode, no shuffle).",
)
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_64
    return simhash_64(load_table(spark, sf_dir, "documents"))


_REG["simhash_docs"] = _QS(fn=_REG["simhash_docs"].fn, oracle=_simhash_sql(),
                           doc=_REG["simhash_docs"].doc)


@register(
    "simhash_dup_pairs",
    None,
    doc="SimHash near-dup candidates: block on any equal 8-bit band "
        "(4 self-joins on 1-byte keys), verify hamming(simhash) <= 3 "
        "(pigeonhole: with 4 bands, any pair within distance 3 shares "
        "at least one band, so candidate recall is exact).",
)
def simhash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_duplicate_pairs
    return simhash_duplicate_pairs(load_table(spark, sf_dir, "documents"),
                                   max_hamming=3)


def _simhash_pairs_sql() -> str:
    band_joins = " UNION ".join(
        f"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sh_a, b.simhash AS sh_b
            FROM s a JOIN s b ON ((a.simhash >> {8 * j}) & 255) = ((b.simhash >> {8 * j}) & 255)
             AND a.doc_id < b.doc_id"""
        for j in range(4))
    return f"""
    WITH sraw AS ({_simhash_sql().replace('FROM t', 'FROM t')}),
    s AS (SELECT doc_id, simhash FROM sraw WHERE simhash <> 0 OR doc_id IN
          (SELECT doc_id FROM documents WHERE length(trim(text)) > 0)),
    cand AS ({band_joins})
    SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """


_REG["simhash_dup_pairs"] = _QS(fn=_REG["simhash_dup_pairs"].fn,
                                oracle=_simhash_pairs_sql(),
                                doc=_REG["simhash_dup_pairs"].doc)


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

def _cosine_sql(a: str, b: str) -> str:
    """Left-to-right double cosine, mirroring functions.vectors."""
    return (f"(list_sum(list_transform(list_zip({a}, {b}), "
            f"p -> p[1]::DOUBLE * p[2]::DOUBLE)) "
            f"/ (sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in {a}])) "
            f"* sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in {b}]))))")


@register(
    "ann_bruteforce_topk",
    f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    sims AS (
      SELECT q.q_id, e.vec_id AS neighbor_id,
             {_cosine_sql('q.qv', 'e.embedding')} AS cosine
      FROM q JOIN embeddings e ON e.vec_id <> q.q_id
    ),
    ranked AS (
      SELECT q_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM sims
    )
    SELECT q_id, neighbor_id, rank, round(cosine, 6) AS cosine
    FROM ranked WHERE rank <= 10
    """,
    doc="Brute-force cosine top-k (the exact baseline): broadcast the "
        "query set, one scan over the corpus, per-query heap via "
        "window-rank. zip_with/aggregate keeps the dot product JVM-side.",
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import brute_force_topk
    e = load_table(spark, sf_dir, "embeddings")
    q = (e.filter(F.col("vec_id") < 10)
          .select(F.col("vec_id").alias("q_id"), "embedding"))
    return brute_force_topk(e, q, k=10)


def _hyperplane_sql(vec: str) -> str:
    """Oracle: 8-bit random-hyperplane bucket for a vector expr."""
    bits = []
    for j, hp in enumerate(HYPERPLANES):
        lit = "[" + ", ".join(f"{v!r}" for v in hp) + "]::DOUBLE[]"
        bits.append(
            f"CASE WHEN list_sum(list_transform(list_zip({vec}, {lit}), "
            f"p -> p[1]::DOUBLE * p[2])) > 0 THEN {1 << j} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"




@register(
    "ann_lsh_topk",
    f"""
    WITH e AS (SELECT vec_id, embedding, {_hyperplane_sql('embedding')} AS bucket
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, embedding AS qv, bucket FROM e WHERE vec_id < 10),
    sims AS (
      SELECT q.q_id, e.vec_id AS neighbor_id,
             {_cosine_sql('q.qv', 'e.embedding')} AS cosine
      FROM q JOIN e ON e.bucket = q.bucket AND e.vec_id <> q.q_id
    ),
    ranked AS (
      SELECT q_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM sims
    )
    SELECT q_id, neighbor_id, rank, round(cosine, 6) AS cosine
    FROM ranked WHERE rank <= 3
    """,
    doc="LSH-bucketed ANN (the scale path): 8 random hyperplanes → "
        "256 sign buckets; candidates only from the query's bucket, so "
        "cost is corpus/256 per query instead of the full corpus. "
        "Equi-join on bucket → plain hash join, AQE handles bucket skew.",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import lsh_bucketed_topk
    return lsh_bucketed_topk(load_table(spark, sf_dir, "embeddings"),
                             HYPERPLANES, k=3,
                             query_filter=F.col("vec_id") < 10)


@register(
    "embedding_neardup_pairs",
    f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_cosine_sql('a.embedding', 'b.embedding')}, 6) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_cosine_sql('a.embedding', 'b.embedding')} >= 0.45
    """,
    doc="Embedding-cosine near-dup pairs with label blocking — the "
        "embedding variant of fuzzy dedup. At scale the blocking key "
        "becomes the LSH bucket (previous query) instead of label.",
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_near_duplicates
    return embedding_near_duplicates(load_table(spark, sf_dir, "embeddings"),
                                     block_col="label", threshold=0.45)


@register(
    "deterministic_sample",
    f"""
    WITH rated AS (
      SELECT doc_id, lang,
             CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 20 ELSE 10 END AS pct,
             {_h32_sql("doc_id::VARCHAR")} % 100 AS bucket
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_sampled,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM rated WHERE bucket < pct GROUP BY lang
    """,
    doc="Reproducible per-stratum sampling: keep a doc iff "
        "h32(doc_id) % 100 < rate[lang]. Unlike rand()/sampleBy, the "
        "same row set survives any re-run, repartition, or engine — "
        "the property a training-data pipeline needs for auditable "
        "mixes. Pure map-side filter; the only shuffle is the "
        "diagnostic count.",
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.hashing import h32
    d = load_table(spark, sf_dir, "documents")
    pct = F.when(F.col("lang") == "en", 50) \
           .when(F.col("lang") == "zh", 20).otherwise(10)
    bucket = h32(F.col("doc_id").cast("string")) % 100
    return (d.filter(bucket < pct)
             .groupBy("lang")
             .agg(F.count("*").alias("n_sampled"),
                  F.min("doc_id").alias("min_doc"),
                  F.max("doc_id").alias("max_doc")))


_CHUNK_TOKENS = 64
_CHUNK_STRIDE = 48  # 16-token overlap


@register(
    "doc_chunks",
    f"""
    WITH base AS (
      SELECT doc_id, {_tok_sql()} AS toks FROM documents
    ),
    sized AS (
      SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) > 0
    ),
    chunks AS (
      SELECT doc_id, g.i::INT AS chunk_idx,
             toks[(g.i::INT * {_CHUNK_STRIDE} + 1):
                  (g.i::INT * {_CHUNK_STRIDE} + {_CHUNK_TOKENS})] AS chunk
      FROM sized,
           LATERAL (SELECT unnest(range(0,
                      greatest(1, ceil((n - {_CHUNK_TOKENS}) /
                                       {_CHUNK_STRIDE}.0)::BIGINT + 1))) AS i) g
    )
    SELECT doc_id, chunk_idx, len(chunk)::BIGINT AS n_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_md5
    FROM chunks WHERE len(chunk) > 0
    """,
    doc="Sliding-window document chunking (64-token windows, stride "
        "48 = 16-token overlap) — the pretraining segmentation step. "
        "Pure per-row explode (no shuffle); chunks are projected to "
        "(count, md5) for portable hashing. At 100 TB chunking "
        "multiplies rows ~n/stride x, so it runs AFTER dedup/filter "
        "and before tokenize-and-pack.",
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens(F.lower(F.col("text")))
    sized = d.select("doc_id", toks.alias("toks")) \
             .withColumn("n", F.size("toks")).filter(F.col("n") > 0)
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.col("n") - F.lit(_CHUNK_TOKENS))
               / F.lit(float(_CHUNK_STRIDE))).cast("bigint") + 1)
    chunks = sized.select(
        "doc_id", "toks",
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int")))
         .alias("chunk_idx"))
    chunk = F.slice("toks", F.col("chunk_idx") * _CHUNK_STRIDE + 1,
                    F.lit(_CHUNK_TOKENS))
    return (chunks.select("doc_id", "chunk_idx",
                          F.size(chunk).cast("bigint").alias("n_tokens"),
                          F.md5(F.concat_ws(" ", chunk).cast("binary"))
                           .alias("chunk_md5"))
                  .filter(F.col("n_tokens") > 0))


@register(
    "tfidf_top_terms",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_tok_sql()}) AS term FROM documents
      WHERE length(trim(text)) > 0
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks),
    scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, rank FROM (
      SELECT doc_id, term,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rank
      FROM scored)
    WHERE rank <= 3
    """,
    doc="TF-IDF top-3 terms per document: token explode -> per-doc "
        "term counts -> corpus document frequencies joined back -> "
        "windowed top-k. The DF table is vocabulary-sized (small "
        "relative to the corpus) so the score join broadcasts at "
        "scale; the idf uses the smoothed ln((N+1)/(df+1)) form. "
        "Output omits the float score (ln is libm-dependent in the "
        "last bit) — rank with a term tiebreak is portable.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    d = load_table(spark, sf_dir, "documents")
    toks = (d.filter(F.length(F.trim("text")) > 0)
             .select("doc_id",
                     F.explode(word_tokens(F.lower(F.col("text"))))
                      .alias("term")))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"))
    n_docs = toks.select("doc_id").distinct().count()
    scored = (tf.join(F.broadcast(df), "term")
                .withColumn("tfidf",
                            F.col("tf") * F.log((n_docs + 1.0)
                                                / (F.col("df") + 1.0))))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= 3)
                  .select("doc_id", "term", "rank"))


_PACK_LEN = 256


@register(
    "pack_sequences",
    f"""
    WITH sized AS (
      SELECT doc_id, len({_tok_sql()}) AS n_tokens FROM documents
      WHERE length(trim(text)) > 0
    ),
    cum AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM sized
    )
    SELECT CAST((cum_tokens - 1) // {_PACK_LEN} AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM cum GROUP BY 1
    """,
    doc="Sequence packing (the tokenize-and-pack step): documents in "
        "deterministic doc_id order, cumulative token count, pack "
        "boundary every {_PACK_LEN} tokens. The running sum is a "
        "DISTRIBUTED two-pass prefix sum — range-partition by doc_id, "
        "partition-local running sum (partitioned window), then "
        "per-partition totals fold into cross-partition offsets with "
        "higher-order array functions (one P-row aggregate, P = "
        "shuffle partitions) broadcast-joined back. No global "
        "single-partition window anywhere: at 10B docs every task "
        "touches only its own range. Oracle casts pack_id and the "
        "token sum to BIGINT (DuckDB window SUM yields HUGEINT; the "
        "driver hash is representation-sensitive). Same "
        "streamed-boundary structure as Megatron-style sample "
        "packing.",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import with_global_running
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens(F.lower(F.col("text")))
    sized = (d.filter(F.length(F.trim("text")) > 0)
              .select("doc_id", F.size(toks).cast("bigint")
                      .alias("n_tokens")))
    cum = with_global_running(sized, [F.asc("doc_id")],
                              sum_col="n_tokens", cum_name="cum_tokens")
    pack = F.floor((F.col("cum_tokens") - 1) / _PACK_LEN).cast("bigint")
    return (cum.select(pack.alias("pack_id"), "doc_id", "n_tokens")
               .groupBy("pack_id")
               .agg(F.count("*").alias("n_docs"),
                    F.sum("n_tokens").alias("n_tokens"),
                    F.min("doc_id").alias("first_doc"),
                    F.max("doc_id").alias("last_doc")))


@register(
    "chunk_dup_ratio",
    f"""
    WITH base AS (
      SELECT doc_id, {_tok_sql()} AS toks FROM documents
    ),
    sized AS (
      SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) > 0
    ),
    chunks AS (
      SELECT doc_id,
             md5(array_to_string(
               toks[(g.i::INT * {_CHUNK_STRIDE} + 1):
                    (g.i::INT * {_CHUNK_STRIDE} + {_CHUNK_TOKENS})], ' '))
               AS chunk_md5
      FROM sized,
           LATERAL (SELECT unnest(range(0,
                      greatest(1, ceil((n - {_CHUNK_TOKENS}) /
                                       {_CHUNK_STRIDE}.0)::BIGINT + 1))) AS i) g
      WHERE len(toks[(g.i::INT * {_CHUNK_STRIDE} + 1):
                     (g.i::INT * {_CHUNK_STRIDE} + {_CHUNK_TOKENS})]) > 0
    ),
    spread AS (
      SELECT chunk_md5, COUNT(DISTINCT doc_id) AS n_docs
      FROM chunks GROUP BY chunk_md5
    )
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           COUNT(CASE WHEN s.n_docs >= 2 THEN 1 END) AS n_dup_chunks,
           COUNT(CASE WHEN s.n_docs >= 2 THEN 1 END)::DOUBLE
             / COUNT(*)::DOUBLE AS dup_ratio
    FROM chunks c JOIN spread s ON c.chunk_md5 = s.chunk_md5
    GROUP BY c.doc_id
    """,
    doc="Chunk-level duplicate-content ratio: the dedup signal BELOW "
        "document granularity — split every doc into the same sliding "
        "64-token chunks as doc_chunks, count how many of a doc's "
        "chunks also appear (by md5) in at least one OTHER document, "
        "and report the duplicated fraction. Docs that survive "
        "whole-doc dedup but are stitched from copied paragraphs "
        "score high here — the filter MinHash misses when the "
        "surrounding text differs. Two shuffles on 16-byte chunk "
        "hashes (spread count + join back); ratio is exact-integer "
        "division.",
)
def chunk_dup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens(F.lower(F.col("text")))
    sized = d.select("doc_id", toks.alias("toks")) \
             .withColumn("n", F.size("toks")).filter(F.col("n") > 0)
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.col("n") - F.lit(_CHUNK_TOKENS))
               / F.lit(float(_CHUNK_STRIDE))).cast("bigint") + 1)
    exploded = sized.select(
        "doc_id", "toks",
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int")))
         .alias("chunk_idx"))
    chunk = F.slice("toks", F.col("chunk_idx") * _CHUNK_STRIDE + 1,
                    F.lit(_CHUNK_TOKENS))
    chunks = (exploded
              .filter(F.size(chunk) > 0)
              .select("doc_id",
                      F.md5(F.concat_ws(" ", chunk).cast("binary"))
                       .alias("chunk_md5")))
    spread = chunks.groupBy("chunk_md5").agg(
        F.countDistinct("doc_id").alias("n_docs"))
    dup = F.count(F.when(F.col("n_docs") >= 2, 1))
    return (chunks.join(spread, "chunk_md5")
                  .groupBy("doc_id")
                  .agg(F.count("*").alias("n_chunks"),
                       dup.alias("n_dup_chunks"),
                       (dup.cast("double") / F.count("*").cast("double"))
                        .alias("dup_ratio")))


_SPAN_CHUNK = 32  # non-overlapping, so consecutive chunks = contiguous text


@register(
    "dup_span_stats",
    f"""
    WITH base AS (
      SELECT doc_id, {_tok_sql()} AS toks FROM documents
    ),
    sized AS (
      SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) > 0
    ),
    chunks AS (
      SELECT doc_id, g.i::INT AS chunk_idx,
             md5(array_to_string(
               toks[(g.i::INT * {_SPAN_CHUNK} + 1):
                    (g.i::INT * {_SPAN_CHUNK} + {_SPAN_CHUNK})], ' ')) AS h
      FROM sized,
           LATERAL (SELECT unnest(range(0,
                      ceil(n / {_SPAN_CHUNK}.0)::BIGINT)) AS i) g
    ),
    spread AS (
      SELECT h, COUNT(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY h
    ),
    dup AS (
      SELECT c.doc_id, c.chunk_idx,
             c.chunk_idx - row_number() OVER (
               PARTITION BY c.doc_id ORDER BY c.chunk_idx) AS grp
      FROM chunks c JOIN spread s ON c.h = s.h
      WHERE s.n_docs >= 2
    ),
    spans AS (
      SELECT doc_id, grp, COUNT(*) AS span_len, min(chunk_idx) AS span_start
      FROM dup GROUP BY doc_id, grp
    )
    SELECT doc_id,
           COUNT(*) AS n_dup_spans,
           CAST(max(span_len) AS BIGINT) AS max_span_chunks,
           CAST(SUM(span_len) AS BIGINT) AS n_dup_chunks,
           CAST(min(span_start) AS INTEGER) AS first_dup_chunk
    FROM spans GROUP BY doc_id
    """,
    doc="Maximal duplicated-span extraction (the scalable stand-in "
        "for suffix-array exact-substring dedup): split every doc "
        "into NON-overlapping {c}-token chunks, mark chunks whose "
        "md5 appears in >= 2 docs, and merge consecutive duplicated "
        "positions into maximal spans via the islands trick "
        "(chunk_idx - row_number). A long max_span_chunks means a "
        "long verbatim copied passage — the signal C4/Gopher-style "
        "span dedup removes, at {c}-token resolution with no "
        "suffix-array build. Cost: one chunk-vocabulary aggregate + "
        "one join back on 16-byte hashes + one per-doc window; at "
        "100 TB every shuffle row is ~24 bytes and the window "
        "partitions by doc_id.".format(c=_SPAN_CHUNK),
)
def dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens(F.lower(F.col("text")))
    sized = d.select("doc_id", toks.alias("toks")) \
             .withColumn("n", F.size("toks")).filter(F.col("n") > 0)
    n_chunks = F.ceil(F.col("n") / F.lit(float(_SPAN_CHUNK))).cast("bigint")
    exploded = sized.select(
        "doc_id", "toks",
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int")))
         .alias("chunk_idx"))
    chunk = F.slice("toks", F.col("chunk_idx") * _SPAN_CHUNK + 1,
                    F.lit(_SPAN_CHUNK))
    chunks = exploded.select(
        "doc_id", "chunk_idx",
        F.md5(F.concat_ws(" ", chunk).cast("binary")).alias("h"))
    spread = (chunks.groupBy("h")
                    .agg(F.countDistinct("doc_id").alias("n_docs"))
                    .filter(F.col("n_docs") >= 2))
    w = Window.partitionBy("doc_id").orderBy("chunk_idx")
    dup = (chunks.join(spread.select("h"), "h")
                 .withColumn("grp",
                             F.col("chunk_idx") - F.row_number().over(w)))
    spans = (dup.groupBy("doc_id", "grp")
                .agg(F.count("*").alias("span_len"),
                     F.min("chunk_idx").alias("span_start")))
    return (spans.groupBy("doc_id")
                 .agg(F.count("*").alias("n_dup_spans"),
                      F.max("span_len").alias("max_span_chunks"),
                      F.sum("span_len").alias("n_dup_chunks"),
                      F.min("span_start").cast("int")
                       .alias("first_dup_chunk")))


_SUBSTR_L = 8  # minimum duplicated-substring length, in tokens


@register(
    "substring_dedup",
    f"""
    WITH base AS (
      SELECT doc_id, {_tok_sql()} AS toks FROM documents
    ),
    sized AS (
      SELECT doc_id, toks, len(toks) AS n FROM base
      WHERE len(toks) >= {_SUBSTR_L}
    ),
    grams AS (
      SELECT doc_id, u.i::INT AS pos,
             md5(array_to_string(
               toks[(u.i::INT):(u.i::INT + {_SUBSTR_L} - 1)], ' ')) AS g
      FROM sized,
           LATERAL (SELECT unnest(range(1, n - {_SUBSTR_L} + 2)) AS i) u
    ),
    dupg AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
    marked AS (SELECT doc_id, pos FROM grams JOIN dupg USING (g)),
    brks AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) <= {_SUBSTR_L}
                  THEN 0 ELSE 1 END AS brk
      FROM marked
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM brks
    ),
    spans AS (
      SELECT doc_id, island, MIN(pos) AS a, MAX(pos) AS b,
             COUNT(*) AS nw
      FROM isl GROUP BY doc_id, island
    ),
    per_doc AS (
      SELECT doc_id,
             COUNT(*)::BIGINT AS n_spans,
             CAST(SUM(nw) AS BIGINT) AS n_dup_windows,
             CAST(SUM(b - a + {_SUBSTR_L}) AS BIGINT) AS n_dup_tokens,
             CAST(MAX(b - a + {_SUBSTR_L}) AS BIGINT) AS max_span_tokens,
             MIN(a)::INT AS first_dup_pos
      FROM spans GROUP BY doc_id
    )
    SELECT p.doc_id, s.n::BIGINT AS n_tokens, p.n_dup_windows, p.n_spans,
           p.n_dup_tokens, p.max_span_tokens, p.first_dup_pos,
           p.n_dup_tokens::DOUBLE / s.n::DOUBLE AS dup_ratio
    FROM per_doc p JOIN sized s USING (doc_id)
    """,
    doc="TRUE substring-level dedup (the sorted-ngram-run formulation "
        "of suffix-array ExactSubstr dedup, Lee et al. 2022 "
        "'Deduplicating Training Data Makes Language Models Better'): "
        "every OVERLAPPING {L}-token window is hashed (stride 1 — "
        "unlike dup_span_stats' non-overlapping chunk stand-in, this "
        "detects duplicated substrings at ANY alignment, which is "
        "exactly what the suffix array gives at match length {L}); a "
        "window is duplicated when its hash occurs >= 2 times in the "
        "corpus (within-doc repeats count, matching suffix-array "
        "semantics); per doc, marked window starts merge into maximal "
        "covered intervals (successive starts <= {L} apart overlap or "
        "touch in token space — the gaps-and-islands interval union), "
        "yielding the exact token spans ExactSubstr would cut. "
        "Output per affected doc: window/span/token counts, longest "
        "span, first position, dup_ratio. Scale: the sort of the "
        "suffix-array build becomes a hash shuffle of ~24-byte "
        "(hash, doc, pos) rows — one row per corpus token — plus one "
        "join back and a doc_id-partitioned window over MARKED "
        "positions only; text never shuffles. At 100 TB swap the md5 "
        "hex for xxhash64 to halve shuffle bytes (same plan).".format(
            L=_SUBSTR_L),
)
def substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens(F.lower(F.col("text")))
    sized = (d.select("doc_id", toks.alias("toks"))
              .withColumn("n", F.size("toks"))
              .filter(F.col("n") >= _SUBSTR_L))
    exploded = sized.select(
        "doc_id", "toks",
        F.explode(F.sequence(
            F.lit(1), (F.col("n") - F.lit(_SUBSTR_L - 1)).cast("int")))
         .alias("pos"))
    gram = F.md5(F.concat_ws(
        " ", F.slice("toks", F.col("pos"), F.lit(_SUBSTR_L)))
        .cast("binary"))
    grams = exploded.select("doc_id", "pos", gram.alias("g"))
    dupg = (grams.groupBy("g").agg(F.count("*").alias("cnt"))
                 .filter(F.col("cnt") >= 2).select("g"))
    marked = grams.join(dupg, "g").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = (marked
           .withColumn("brk",
                       F.when(F.col("pos") - F.lag("pos").over(w)
                              <= _SUBSTR_L, F.lit(0)).otherwise(F.lit(1)))
           .withColumn("island", F.sum("brk").over(w)))
    span_tokens = F.col("b") - F.col("a") + F.lit(_SUBSTR_L)
    spans = (isl.groupBy("doc_id", "island")
                .agg(F.min("pos").alias("a"), F.max("pos").alias("b"),
                     F.count("*").alias("nw")))
    per_doc = (spans.groupBy("doc_id")
               .agg(F.count("*").cast("bigint").alias("n_spans"),
                    F.sum("nw").cast("bigint").alias("n_dup_windows"),
                    F.sum(span_tokens).cast("bigint")
                     .alias("n_dup_tokens"),
                    F.max(span_tokens).cast("bigint")
                     .alias("max_span_tokens"),
                    F.min("a").cast("int").alias("first_dup_pos")))
    return (per_doc
            .join(sized.select("doc_id",
                               F.col("n").cast("bigint")
                               .alias("n_tokens")), "doc_id")
            .select("doc_id", "n_tokens", "n_dup_windows", "n_spans",
                    "n_dup_tokens", "max_span_tokens", "first_dup_pos",
                    (F.col("n_dup_tokens").cast("double")
                     / F.col("n_tokens").cast("double"))
                    .alias("dup_ratio")))


_PAIR_MAX_DF = 8  # gram blocking cap: grams in more docs are boilerplate


@register(
    "substring_dup_pairs",
    f"""
    WITH base AS (
      SELECT doc_id, {_tok_sql()} AS toks FROM documents
    ),
    sized AS (
      SELECT doc_id, toks, len(toks) AS n FROM base
      WHERE len(toks) >= {_SUBSTR_L}
    ),
    grams AS (
      SELECT doc_id, u.i::INT AS pos,
             md5(array_to_string(
               toks[(u.i::INT):(u.i::INT + {_SUBSTR_L} - 1)], ' ')) AS g
      FROM sized,
           LATERAL (SELECT unnest(range(1, n - {_SUBSTR_L} + 2)) AS i) u
    ),
    keep AS (
      SELECT g FROM grams GROUP BY g
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {_PAIR_MAX_DF}
    ),
    kept AS (SELECT doc_id, pos, g FROM grams JOIN keep USING (g)),
    mpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pos_a, a.pos - b.pos AS off
      FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    runs0 AS (
      SELECT doc_a, doc_b, off, pos_a,
             CASE WHEN pos_a - lag(pos_a) OVER (
                    PARTITION BY doc_a, doc_b, off ORDER BY pos_a) = 1
                  THEN 0 ELSE 1 END AS brk
      FROM mpairs
    ),
    runs1 AS (
      SELECT doc_a, doc_b, off, pos_a,
             SUM(brk) OVER (PARTITION BY doc_a, doc_b, off
                            ORDER BY pos_a) AS run_id
      FROM runs0
    ),
    runs AS (
      SELECT doc_a, doc_b, off, run_id, COUNT(*) AS run_len
      FROM runs1 GROUP BY doc_a, doc_b, off, run_id
    )
    SELECT doc_a, doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(SUM(run_len) AS BIGINT) AS n_matched_windows,
           CAST(MAX(run_len) + {_SUBSTR_L - 1} AS BIGINT) AS lcs_tokens,
           CAST(SUM(run_len + {_SUBSTR_L - 1}) AS BIGINT)
             AS aligned_tokens
    FROM runs GROUP BY doc_a, doc_b
    """,
    doc="Document-PAIR span resolution — the attribution stage on top "
        "of substring_dedup (which only says a doc contains duplicated "
        "text, not against WHOM): every {L}-token window hash shared "
        "by a doc pair becomes a match point (pos_a, pos_b); match "
        "points at the SAME alignment offset (pos_a - pos_b) with "
        "CONSECUTIVE positions merge into maximal runs — a run of k "
        "windows is a verbatim common substring of exactly k+{Lm1} "
        "tokens, the same maximal exact matches a suffix array "
        "emits at match length >= {L}. Per pair: run count, matched "
        "windows, the LONGEST common substring (lcs_tokens — the "
        "decision signal for which doc to cut), and total aligned "
        "tokens (overlapping alignments double-count by design; it is "
        "an alignment-volume, not a coverage, measure). Scale guard: "
        "grams occurring in more than {cap} docs are dropped BEFORE "
        "the pair join (boilerplate blocking — same reason "
        "fuzzy_name_blocking collapses multiplicity): pair fan-out is "
        "bounded by C({cap},2) per gram instead of quadratic in the "
        "hottest gram's df; the dropped mass is exactly what MinHash/"
        "boilerplate queries handle. Shuffle rows are ~28-byte "
        "(hash, doc, pos) tuples and the islands window partitions by "
        "(doc_a, doc_b, off) — text never shuffles.".format(
            L=_SUBSTR_L, Lm1=_SUBSTR_L - 1, cap=_PAIR_MAX_DF),
)
def substring_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    d = load_table(spark, sf_dir, "documents")
    toks = word_tokens(F.lower(F.col("text")))
    sized = (d.select("doc_id", toks.alias("toks"))
              .withColumn("n", F.size("toks"))
              .filter(F.col("n") >= _SUBSTR_L))
    exploded = sized.select(
        "doc_id", "toks",
        F.explode(F.sequence(
            F.lit(1), (F.col("n") - F.lit(_SUBSTR_L - 1)).cast("int")))
         .alias("pos"))
    gram = F.md5(F.concat_ws(
        " ", F.slice("toks", F.col("pos"), F.lit(_SUBSTR_L)))
        .cast("binary"))
    grams = exploded.select("doc_id", "pos", gram.alias("g"))
    keep = (grams.groupBy("g")
                 .agg(F.countDistinct("doc_id").alias("df"))
                 .filter((F.col("df") >= 2) & (F.col("df") <= _PAIR_MAX_DF))
                 .select("g"))
    kept = grams.join(keep, "g")
    a = kept.select(F.col("doc_id").alias("doc_a"),
                    F.col("pos").alias("pos_a"), "g")
    b = kept.select(F.col("doc_id").alias("doc_b"),
                    F.col("pos").alias("pos_b"), "g")
    mpairs = (a.join(b, "g")
               .filter(F.col("doc_a") < F.col("doc_b"))
               .select("doc_a", "doc_b", "pos_a",
                       (F.col("pos_a") - F.col("pos_b")).alias("off")))
    w = Window.partitionBy("doc_a", "doc_b", "off").orderBy("pos_a")
    runs = (mpairs
            .withColumn("brk",
                        F.when(F.col("pos_a") - F.lag("pos_a").over(w)
                               == 1, F.lit(0)).otherwise(F.lit(1)))
            .withColumn("run_id", F.sum("brk").over(w))
            .groupBy("doc_a", "doc_b", "off", "run_id")
            .agg(F.count("*").alias("run_len")))
    return (runs.groupBy("doc_a", "doc_b")
                .agg(F.count("*").alias("n_runs"),
                     F.sum("run_len").alias("n_matched_windows"),
                     (F.max("run_len") + F.lit(_SUBSTR_L - 1))
                      .alias("lcs_tokens"),
                     F.sum(F.col("run_len") + F.lit(_SUBSTR_L - 1))
                      .alias("aligned_tokens")))


_TPL_N = 3  # opening-template length, in tokens


@register(
    "template_dedup_clusters",
    rf"""
    WITH norm AS (
      SELECT doc_id, source,
             md5(regexp_replace(array_to_string(
                   ({_tok_sql()})[1:{_TPL_N}], ' '),
                 '[0-9]+', '#', 'g')) AS th,
             md5(text) AS raw_h
      FROM documents WHERE length(trim(text)) > 0
    )
    SELECT th AS template_h,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT raw_h) AS BIGINT) AS n_distinct_texts,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(MIN(doc_id) AS BIGINT) AS rep_doc_id
    FROM norm GROUP BY th HAVING COUNT(*) >= 2
    """,
    doc="Opening-template dedup — the instruction/boilerplate family "
        "member the hash/shingle dedups miss: documents cluster on "
        f"their normalized first {_TPL_N} tokens (lowercased "
        "tokenizer, digit-runs -> '#'), so prompts that differ only "
        "in parameter values or share a generation header ('order "
        "#1234 shipped...' / 'order #99 shipped...') fuse into one "
        "template. Per cluster of >= 2: member count, distinct raw "
        "texts (n_docs > n_distinct_texts means exact dupes are also "
        "present), source spread (cross-source templates are "
        "boilerplate; single-source ones are generation templates), "
        "and the min-doc_id representative. The standard pre-filter "
        "for instruction-tuning corpora. Scale: normalization is a "
        "per-row scan projection; the shuffle carries 16-byte hashes "
        "(text never shuffles); one partial+final hash-agg.",
)
def template_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.length(F.trim("text")) > 0))
    template = F.regexp_replace(
        F.concat_ws(" ", F.slice(word_tokens(F.lower(F.col("text"))),
                                 1, _TPL_N)),
        r"[0-9]+", "#")
    norm = d.select(
        "doc_id", "source",
        F.md5(template.cast("binary")).alias("th"),
        F.md5(F.col("text").cast("binary")).alias("raw_h"))
    return (norm.groupBy(F.col("th").alias("template_h"))
                .agg(F.count("*").alias("n_docs"),
                     F.countDistinct("raw_h").alias("n_distinct_texts"),
                     F.countDistinct("source").alias("n_sources"),
                     F.min("doc_id").alias("rep_doc_id"))
                .filter(F.col("n_docs") >= 2))


# ------------------------------------------------------------------ #
# graph-based ANN serving: greedy beam search over a kNN graph       #
# ------------------------------------------------------------------ #

_BEAM_KNN = 3   # graph out-degree (= curation_extra._KNN_K,
                # the shared LSH-bucketed kNN graph)
_BEAM_B = 8     # beam width
_BEAM_H = 3     # hops
_BEAM_TOPK = 5  # serving depth
_BEAM_NQ = 5    # query vectors: vec_id < 5


def _beam_hop_sql(h: int) -> str:
    prev = f"beam{h - 1}"
    return f"""
    cand{h} AS (
      SELECT DISTINCT q_id, node FROM (
        SELECT q_id, node FROM {prev}
        UNION ALL
        SELECT b.q_id, ed.dst AS node
        FROM {prev} b JOIN edges ed ON ed.src = b.node) u
    ),
    ranked{h} AS (
      SELECT c.q_id, c.node,
             row_number() OVER (PARTITION BY c.q_id
               ORDER BY {_cosine_sql('q.qv', 'e.embedding')} DESC, c.node)
               AS r
      FROM cand{h} c
      JOIN qs q ON q.q_id = c.q_id
      JOIN embeddings e ON e.vec_id = c.node
      WHERE c.node <> c.q_id
    ),
    beam{h} AS (SELECT q_id, node FROM ranked{h} WHERE r <= {_BEAM_B})"""


_BEAM_ORACLE = f"""
    WITH ev AS (
      SELECT vec_id, embedding, {_hyperplane_sql('embedding')} AS bucket
      FROM embeddings
    ),
    gsims AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             {_cosine_sql('a.embedding', 'b.embedding')} AS c
      FROM ev a JOIN ev b ON a.bucket = b.bucket AND b.vec_id <> a.vec_id
    ),
    edges AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY c DESC, dst)
                 AS r
        FROM gsims) WHERE r <= {_BEAM_KNN}
    ),
    qs AS (
      SELECT vec_id AS q_id, embedding AS qv FROM embeddings
      WHERE vec_id < {_BEAM_NQ}
    ),
    entry AS (
      SELECT MIN(vec_id) AS e FROM embeddings WHERE vec_id >= {_BEAM_NQ}
    ),
    beam0 AS (SELECT q_id, e AS node FROM qs, entry),
    {",".join(_beam_hop_sql(h) for h in range(1, _BEAM_H + 1))}
    SELECT q_id, node AS doc_id, r AS rank
    FROM ranked{_BEAM_H} WHERE r <= {_BEAM_TOPK}
    """


@register(
    "ann_beam_search_topk",
    _BEAM_ORACLE,
    doc="Graph-based ANN serving (the HNSW/NSG family's traversal, "
        "single-layer): a kNN graph (out-degree {d}) is walked by "
        "greedy beam search — start at a fixed entry node, each hop "
        "expands the beam's out-neighbors, re-scores candidates by "
        "exact cosine against the query, and keeps the best {B}; "
        "after {H} hops the top-{K} of the final beam is served. "
        "Rank-only output with id tiebreaks (float scores never "
        "output — ann_bruteforce_topk precedent). This pins the "
        "TRAVERSAL semantics over the SAME LSH-bucketed kNN graph "
        "knn_graph_mutual builds (bucket equi self-join, never "
        "all-pairs — at 100 TB nn_descent_round refines it); the "
        "traversal plan is corpus-size-independent: the beam frontier "
        "is "
        "(n_queries x {B}) rows per hop, each hop is one equi-join "
        "against the edge list (co-partitioned on node) plus one "
        "broadcast of the query vectors — per-hop cost is independent "
        "of corpus size, which is the entire point of graph ANN over "
        "IVF probing.".format(d=_BEAM_KNN, B=_BEAM_B, H=_BEAM_H,
                              K=_BEAM_TOPK),
)
def ann_beam_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.vectors import cosine_similarity

    from .curation_extra import _knn_edges
    e = load_table(spark, sf_dir, "embeddings")
    edges = _knn_edges(spark, sf_dir).select("src", "dst")
    qs = (e.filter(F.col("vec_id") < _BEAM_NQ)
           .select(F.col("vec_id").alias("q_id"),
                   F.col("embedding").alias("qv")))
    nodes = e.select(F.col("vec_id").alias("node"),
                     F.col("embedding").alias("nv"))
    # one bounded driver pull: the entry node id (a scalar)
    entry = (e.filter(F.col("vec_id") >= _BEAM_NQ)
              .agg(F.min("vec_id")).first()[0])
    w = Window.partitionBy("q_id").orderBy(F.desc("c"), F.asc("node"))
    beam = qs.select("q_id", F.lit(entry).cast("long").alias("node"))
    ranked = None
    for _ in range(_BEAM_H):
        # each hop reads the previous beam TWICE (frontier carry +
        # neighbor expansion), so without a pin hop h re-executes hop
        # h-1's whole subtree 2x — 2^hops total (the chained-lineage
        # iterative failure mode; same fix as copurchase_kcore). The
        # pinned frame is the (n_queries x beam_width) frontier —
        # bytes, not data-scale.
        beam = persist(beam)
        cand = (beam.unionByName(
                    beam.join(edges, beam.node == edges.src)
                        .select("q_id", F.col("dst").alias("node")))
                    .distinct())
        ranked = (cand.filter(F.col("node") != F.col("q_id"))
                      .join(F.broadcast(qs), "q_id")
                      .join(nodes, "node")
                      .select("q_id", "node",
                              cosine_similarity(F.col("qv"), F.col("nv"))
                              .alias("c"))
                      .withColumn("r", F.row_number().over(w)))
        beam = ranked.filter(F.col("r") <= _BEAM_B).select("q_id", "node")
    return (ranked.filter(F.col("r") <= _BEAM_TOPK)
                  .select("q_id", F.col("node").alias("doc_id"),
                          F.col("r").alias("rank")))
