"""[EXT] sixth curation wave: winnowing fingerprints, source-level
overlap auditing, and Bloom-filter decontamination.

Three more operators of a training-data curation stack, each filling a
gap the registry did not yet cover:

- ``winnowing_fingerprints``: local document fingerprinting by
  WINNOWING (Schleimer, Wilkerson & Aiken, SIGMOD'03 — the MOSS
  algorithm): hash every word-3-gram in order, slide a window of w=4
  consecutive k-gram hashes, select the minimum hash per window
  (rightmost position on ties), and dedup the selected positions.
  Winnowing guarantees that any shared substring of length
  >= w + k - 1 tokens contributes at least one IDENTICAL selected
  fingerprint to both documents — the local-containment guarantee
  MinHash (a whole-document sketch) cannot give. Output is the
  per-document selected-set digest + density, all scalar columns.
- ``source_overlap_audit``: corpus-level overlap matrix — per-source
  MinHash signatures (16 pinned permutations over the union of the
  source's distinct shingle hashes) next to the EXACT pairwise shingle
  Jaccard, so the estimate and its ground truth sit in the same row.
  This is the "how much does crawl A duplicate crawl B" planning query
  run before choosing a mixture, and doubles as a standing calibration
  audit of the MinHash estimator at corpus granularity.
- ``bloom_decontamination``: benchmark decontamination through a
  BLOOM FILTER (Bloom, CACM'70) instead of a join against the full
  benchmark shingle set: the holdout's word-5-gram hashes set k=3 bit
  positions in an m=2^17-bit filter; a training shingle is flagged iff
  all three of its positions are set. The filter is ~16 KiB — it
  broadcasts to every executor for free where the exact hash set may
  not — and the query reports the false-positive count per document by
  running the exact membership check alongside (no false negatives,
  by construction; the test suite pins that invariant).

Determinism policy (registry docstring): every hash is the portable
md5-based h32; every double output is a single correctly-rounded
division of exactly-representable integers.

At 100 TB: winnowing is a pure per-row map (the only shuffle is the
rebalance that materializes the hash array once — 8 bytes/k-gram,
never the text). The overlap audit reduces the corpus to distinct
(source, 8-byte hash) rows — one hash-shuffle — after which per-source
signatures are partial-agg minima and the exact intersection is an
equi-join on the hash; only the #sources^2 pair table is quadratic.
The Bloom path replaces the candidate join of decontamination_overlap
with membership against a broadcast 16 KiB bitset: the training side
is one linear scan, and only true+false positives pay the verify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.core import rebalance
from ..functions.text import word_ngrams, word_tokens
from ..operators.cache import persist
from ..operators.hashing import FP_PRIME, P61, h32
from ..sources.registry import load_table
from . import register
from .llm_ext import MINHASH_COEFFS, _h32_sql, _shingles_sql, _tok_sql

# ---------------------------------------------------------------------------
# Winnowing (MOSS) fingerprints
# ---------------------------------------------------------------------------

_WIN_K = 5   # k-gram width (words) — k sits ABOVE the noise threshold
             # (SIGMOD'03 §2: matches shorter than k are noise). On a
             # small-vocabulary corpus k=3 produced 325k spurious
             # candidate pairs at sf0.1 where k=5 produces 585 for the
             # same 256-pair verified output — k is the knob that keeps
             # fingerprint blocking linear, exactly as the paper says.
_WIN_W = 4   # winnowing window (consecutive k-gram hashes)


def _winnow_cte_sql() -> str:
    """Oracle CTE chain ``base``/``kg``/``win``: ordered k-gram hashes
    ``hs`` + selected winnowing positions ``sel`` per doc (mirrors the
    Spark expressions in :func:`winnowing_fingerprints`)."""
    return f"""base AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE {_tok_sql()} END AS toks
      FROM documents
    ),
    kg AS (
      SELECT doc_id,
             [{_h32_sql(f"array_to_string(toks[i:i+{_WIN_K - 1}], ' ')")}
              for i in range(1, len(toks) - {_WIN_K - 2})] AS hs
      FROM base
    ),
    win AS (
      SELECT doc_id, hs, len(hs) AS n,
        CASE WHEN len(hs) = 0 THEN []::BIGINT[]
        ELSE list_sort(list_distinct([
          CAST(s - 1 + list_max(
            [CASE WHEN hs[s:s+{_WIN_W - 1}][i]
                       = list_aggregate(hs[s:s+{_WIN_W - 1}], 'min')
                  THEN i ELSE 0 END
             for i in range(1, len(hs[s:s+{_WIN_W - 1}]) + 1)]) AS BIGINT)
          for s in range(1, greatest(len(hs) - {_WIN_W - 1}, 1) + 1)]))
        END AS sel
      FROM kg
    )"""


def _winnow_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hs): ordered k-gram hash array. rebalance FIRST, hash
    above the shuffle: the md5/conv per k-gram is the expensive part
    and the byte-small documents scan plans 1-2 tasks — hashing below
    the exchange would serialize it (measured 4.3 s -> wide at sf0.1);
    the shuffle carries raw text, which is tiny here and
    proportionally free at 100 TB where the scan is already wide."""
    d = load_table(spark, sf_dir, "documents")
    return rebalance(d.select("doc_id", "text")).select(
        "doc_id",
        F.transform(word_ngrams(F.col("text"), _WIN_K), h32).alias("hs"))


def _winnow_sel(hs) -> F.Column:
    """Sorted distinct selected positions (1-based, bigint) of the
    winnowing pass over the ordered hash array ``hs``. Callers must
    evaluate this ONCE per row (behind a Generate barrier) — HOFs are
    interpreted per element and get no codegen CSE. (A window-function
    formulation over exploded rows was tried and measured SLOWER: the
    doc-partitioned shuffle + two Window nodes cost ~3.5 s at sf0.1 vs
    ~1.5 s for this per-row fold.)"""
    n = F.size(hs)

    def _sel(s):
        sl = F.slice(hs, s, _WIN_W)
        mn = F.array_min(sl)
        rel = F.array_max(F.transform(
            sl, lambda x, i: F.when(x == mn, i + 1).otherwise(F.lit(0))))
        return (s - 1 + rel).cast("bigint")

    starts = F.when(n == 0, F.array().cast("array<int>")) \
              .otherwise(F.sequence(F.lit(1), F.greatest(n - F.lit(_WIN_W - 1),
                                                         F.lit(1))))
    return F.array_sort(F.array_distinct(F.transform(starts, _sel)))


@register(
    "winnowing_fingerprints",
    f"""
    WITH {_winnow_cte_sql()}
    SELECT doc_id, n AS n_kgrams, CAST(len(sel) AS BIGINT) AS n_selected,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT), [hs[CAST(p AS INT)] for p in sel]),
             (acc, x) -> (acc * 31 + x) % {FP_PRIME}) AS winnow_digest
    FROM win
    """,
    doc="Winnowing fingerprints (Schleimer/Wilkerson/Aiken SIGMOD'03, "
        f"the MOSS algorithm): hash word-{_WIN_K}-grams in order, "
        f"slide a w={_WIN_W} window over consecutive hashes, keep the "
        "window minimum (rightmost tie-break), dedup positions. Any "
        f"shared run of >= w+k-1 = {_WIN_W + _WIN_K - 1} tokens yields "
        "an identical selected fingerprint in both documents — the "
        "LOCAL containment guarantee whole-doc MinHash lacks. Output "
        "per doc: k-gram count, selected count (density ~ 2/(w+1)), "
        "and the position-ordered rolling digest of the selected "
        "hashes. Pure per-row map; the rebalance materializes the "
        "8-byte/k-gram hash array once below a shuffle boundary so "
        "the window slices reference it instead of recomputing md5 "
        "(CollapseProject would inline the expression ~2w times).",
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Selected positions are NON-DECREASING across window starts (a
    # later window picking an earlier position would contradict the
    # earlier window's rightmost-min), so consecutive dedup == global
    # dedup and count + digest fold in ONE accumulator pass over the
    # starts. The 1-element explode is a Generate barrier: without it
    # CollapseProject inlines the fold into every output column and
    # the whole selection runs once per column.
    base = _winnow_base(spark, sf_dir)
    hs = F.col("hs")
    n = F.size(hs)

    def _step(acc, s):
        sl = F.slice(hs, s, _WIN_W)
        mn = F.array_min(sl)
        rel = F.array_max(F.transform(
            sl, lambda x, i: F.when(x == mn, i + 1).otherwise(F.lit(0))))
        p = (s - 1 + rel).cast("bigint")
        return F.when(p == acc["last"], acc).otherwise(F.struct(
            p.alias("last"),
            (acc["cnt"] + 1).alias("cnt"),
            ((acc["dig"] * 31 + F.element_at(hs, p.cast("int")))
             % F.lit(FP_PRIME)).alias("dig")))

    starts = F.when(n == 0, F.array().cast("array<int>")) \
              .otherwise(F.sequence(F.lit(1), F.greatest(n - F.lit(_WIN_W - 1),
                                                         F.lit(1))))
    init = F.struct(F.lit(-1).cast("bigint").alias("last"),
                    F.lit(0).cast("bigint").alias("cnt"),
                    F.lit(0).cast("bigint").alias("dig"))
    acc = F.aggregate(starts, init, _step)
    stats = F.struct(n.cast("bigint").alias("n_kgrams"),
                     acc["cnt"].alias("n_selected"),
                     acc["dig"].alias("winnow_digest"))
    return (base.select("doc_id", F.explode(F.array(stats)).alias("w"))
                .select("doc_id", "w.n_kgrams", "w.n_selected",
                        "w.winnow_digest"))


# ---------------------------------------------------------------------------
# Winnowing-blocked candidate pairs
# ---------------------------------------------------------------------------

_WP_MAX_DF = 16   # fingerprints in more docs than this are boilerplate
_WP_MIN_J = 0.3   # same exact-Jaccard verify floor as the LSH/SNM family


@register(
    "winnow_candidate_pairs",
    f"""
    WITH {_winnow_cte_sql()},
    fps AS (
      SELECT doc_id, unnest(list_distinct(
               [hs[CAST(p AS INT)] for p in sel])) AS fp
      FROM win
    ),
    keep AS (
      SELECT fp FROM fps GROUP BY fp
      HAVING COUNT(*) BETWEEN 2 AND {_WP_MAX_DF}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS n_shared_fps
      FROM fps a JOIN keep USING (fp)
      JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    hsd AS (SELECT doc_id, list_distinct(hs) AS hsd, len(list_distinct(hs)) AS n
            FROM kg)
    SELECT p.doc_a, p.doc_b, p.n_shared_fps,
           len(list_intersect(a.hsd, b.hsd))::DOUBLE
             / least(a.n, b.n)::DOUBLE AS containment
    FROM pairs p JOIN hsd a ON a.doc_id = p.doc_a
                 JOIN hsd b ON b.doc_id = p.doc_b
    WHERE len(list_intersect(a.hsd, b.hsd))::DOUBLE
             / least(a.n, b.n)::DOUBLE >= {_WP_MIN_J}
    """,
    doc="The FOURTH near-dup blocking family, built on winnowing "
        "fingerprints (next to LSH banding, SimHash bands, and "
        "sorted-neighborhood): docs sharing any selected fingerprint "
        "become candidates, then verify by exact hashed-shingle "
        f"CONTAINMENT (shared / smaller set) >= {_WP_MIN_J} — not "
        "global Jaccard, which would discard exactly the asymmetric "
        "local-overlap pairs this family exists to catch. Two long "
        "docs sharing one plagiarized paragraph >= w+k-1 tokens are "
        "GUARANTEED to collide on a fingerprint even when their "
        "global Jaccard rounds to zero. "
        f"Fingerprints in > {_WP_MAX_DF} docs are dropped as "
        "boilerplate before pairing (the same hot-bucket cap as the "
        "LSH band join — bucket fan-out is bounded by construction, "
        "and what it drops is exactly the template text a dedup pass "
        "shouldn't pair on anyway). Candidate generation is an "
        "equi-self-join on the 8-byte fingerprint; the verify join "
        "ships shingle-hash sets for surviving pairs only.",
)
def winnow_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persist: base pins the k-gram hashing (dh AND fps both consume
    # it), the distinct (doc, hash) table feeds the verify side twice
    # (sizes + both intersection sides), and the fingerprint table the
    # df filter + both pair-join sides — one materialization of each
    # serves all references. The selection itself runs once per row
    # behind the explode Generate barrier.
    base = persist(_winnow_base(spark, sf_dir))
    hs = F.col("hs")
    dh = persist(base.select("doc_id", F.explode("hs").alias("h"))
                     .distinct())
    fps = persist(base.select(
                      "doc_id",
                      F.explode(F.array_distinct(
                          F.transform(_winnow_sel(hs),
                                      lambda p: F.element_at(hs,
                                                             p.cast("int")))))
                      .alias("fp")))  # array_distinct => unique per doc
    keep = (fps.groupBy("fp").agg(F.count("*").alias("df"))
               .filter((F.col("df") >= 2) & (F.col("df") <= _WP_MAX_DF))
               .select("fp"))
    kept = fps.join(F.broadcast(keep), "fp")
    pairs = (kept.select(F.col("doc_id").alias("doc_a"), "fp")
                 .join(fps.select(F.col("doc_id").alias("doc_b"), "fp"), "fp")
                 .filter(F.col("doc_a") < F.col("doc_b"))
                 .groupBy("doc_a", "doc_b")
                 .agg(F.count("*").alias("n_shared_fps")))
    sizes = dh.groupBy("doc_id").agg(F.count("*").alias("nsz"))
    inter = (pairs.select("doc_a", "doc_b")
                  .join(dh.select(F.col("doc_id").alias("doc_a"), "h"),
                        "doc_a")
                  .join(dh.select(F.col("doc_id").alias("doc_b"), "h"),
                        ["doc_b", "h"])
                  .groupBy("doc_a", "doc_b")
                  .agg(F.count("*").alias("n_common")))
    cand = (pairs.join(inter, ["doc_a", "doc_b"])
                 .join(F.broadcast(sizes.select(
                     F.col("doc_id").alias("doc_a"),
                     F.col("nsz").alias("n_a"))), "doc_a")
                 .join(F.broadcast(sizes.select(
                     F.col("doc_id").alias("doc_b"),
                     F.col("nsz").alias("n_b"))), "doc_b"))
    cont = (F.col("n_common").cast("double")
            / F.least("n_a", "n_b").cast("double"))
    return (cand.select("doc_a", "doc_b", "n_shared_fps",
                        cont.alias("containment"))
                .filter(F.col("containment") >= _WP_MIN_J))


# ---------------------------------------------------------------------------
# Tokenizer fertility audit
# ---------------------------------------------------------------------------

@register(
    "tokenizer_fertility",
    f"""
    WITH t AS (
      SELECT lang, length(text) AS n_chars,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len({_tok_sql('text')}) END AS ws,
             len(regexp_extract_all(text,
                 '[A-Za-z0-9_]+|[^\\sA-Za-z0-9_]')) AS bpe
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
           SUM(n_chars)::BIGINT AS n_chars,
           SUM(ws)::BIGINT AS n_ws_tokens,
           SUM(bpe)::BIGINT AS n_bpe_tokens,
           CASE WHEN SUM(ws) = 0 THEN 0.0
                ELSE SUM(bpe)::DOUBLE / SUM(ws)::DOUBLE END AS fertility,
           CASE WHEN SUM(bpe) = 0 THEN 0.0
                ELSE SUM(n_chars)::DOUBLE / SUM(bpe)::DOUBLE
           END AS chars_per_token
    FROM t GROUP BY lang
    """,
    doc="Tokenizer fertility audit: per language, subword ('BPE-ish' "
        "regex pre-tokenization) tokens per whitespace word and "
        "characters per subword token — the multilingual budget "
        "metric (a language with 2x fertility pays 2x sequence length "
        "for the same text, so compute/token caps must be set per "
        "language, not per corpus). Pure map + one partial-agg "
        "rollup to |langs| rows; every statistic is an exact BIGINT "
        "sum with one final division, so the doubles are "
        "engine-portable.",
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_count
    d = load_table(spark, sf_dir, "documents")
    t = d.select("lang", F.length("text").cast("bigint").alias("n_chars"),
                 token_count(F.col("text")).alias("ws"),
                 token_count(F.col("text"), "bpe").alias("bpe"))
    g = t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("ws").alias("n_ws_tokens"),
        F.sum("bpe").alias("n_bpe_tokens"))
    return g.select(
        "lang", "n_docs", "n_chars", "n_ws_tokens", "n_bpe_tokens",
        F.when(F.col("n_ws_tokens") == 0, F.lit(0.0))
         .otherwise(F.col("n_bpe_tokens").cast("double")
                    / F.col("n_ws_tokens").cast("double")).alias("fertility"),
        F.when(F.col("n_bpe_tokens") == 0, F.lit(0.0))
         .otherwise(F.col("n_chars").cast("double")
                    / F.col("n_bpe_tokens").cast("double"))
        .alias("chars_per_token"))


# ---------------------------------------------------------------------------
# Margin-based bitext mining
# ---------------------------------------------------------------------------

_BTX_K = 4            # neighborhood size for margin normalization
_BTX_MARGIN_PCT = 102  # keep pairs with margin >= 1.02 (exact integer test)
_BTX_SRC_LANG = "en"
_BTX_DST_LANG = "de"


def _btx_sql() -> str:
    from .llm_ext import _cosine_sql, _hyperplane_sql
    return f"""
    WITH e AS (
      SELECT vec_id, embedding, {_hyperplane_sql('embedding')} AS bucket,
             d.lang
      FROM embeddings JOIN documents d ON d.doc_id = vec_id
    ),
    cand AS (
      SELECT x.vec_id AS src, y.vec_id AS dst,
             CAST(floor({_cosine_sql('x.embedding', 'y.embedding')}
                        * 1000000 + 0.5) AS BIGINT) AS ci
      FROM e x JOIN e y ON x.bucket = y.bucket
        AND x.lang = '{_BTX_SRC_LANG}' AND y.lang = '{_BTX_DST_LANG}'
    ),
    fwd AS (SELECT src, dst, ci, row_number() OVER (
              PARTITION BY src ORDER BY ci DESC, dst) AS rf FROM cand),
    bwd AS (SELECT src, dst, ci, row_number() OVER (
              PARTITION BY dst ORDER BY ci DESC, src) AS rb FROM cand),
    fstat AS (SELECT src, SUM(ci) AS sfw, COUNT(*) AS kf
              FROM fwd WHERE rf <= {_BTX_K} GROUP BY src),
    bstat AS (SELECT dst, SUM(ci) AS sbw, COUNT(*) AS kb
              FROM bwd WHERE rb <= {_BTX_K} GROUP BY dst),
    best AS (
      SELECT f.src, f.dst, f.ci
      FROM fwd f JOIN bwd b ON b.src = f.src AND b.dst = f.dst
      WHERE f.rf = 1 AND b.rb = 1
    )
    SELECT best.src AS src, best.dst AS dst,
           best.ci / 1000000.0 AS cosine,
           CAST(best.ci * 2 * kf * kb AS DOUBLE)
             / CAST(sfw * kb + sbw * kf AS DOUBLE) AS margin
    FROM best JOIN fstat USING (src) JOIN bstat USING (dst)
    WHERE best.ci > 0 AND (sfw * kb + sbw * kf) > 0
      AND best.ci * 2 * kf * kb * 100 >= {_BTX_MARGIN_PCT} * (sfw * kb + sbw * kf)
    """


@register(
    "bitext_margin_pairs",
    _btx_sql(),
    doc="Margin-based bitext mining (Artetxe & Schwenk, ACL'19 — the "
        "LASER/CCMatrix parallel-corpus miner): align documents across "
        f"two languages ({_BTX_SRC_LANG}<->{_BTX_DST_LANG}) by "
        "embedding cosine, but score each candidate by its MARGIN — "
        "cosine divided by the mean cosine of both endpoints' "
        f"{_BTX_K}-NN neighborhoods — so a pair only survives when it "
        "stands out from its neighborhoods (absolute-cosine thresholds "
        "fail under hubness). Keep mutual-best pairs with margin >= "
        f"{_BTX_MARGIN_PCT / 100}. Candidates come from the LSH-bucket "
        "equi-join (never all-pairs); the margin is computed in exact "
        "integer arithmetic over 1e-6-quantized cosines (the threshold "
        "test is a pure int64 inequality, the reported margin one "
        "exact-int division), so the result is engine-portable. At "
        "100 TB the bucket join is the same co-located plan as "
        "knn_graph_mutual, and the production variant swaps the "
        "bucket candidates for the IVF/PQ retrieve stack unchanged — "
        "margin scoring only needs the retrieved k-NN lists.",
)
def bitext_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.vectors import vec_norm
    from ..operators.similarity import _pair_cosine, hyperplane_bucket
    from .llm_ext import HYPERPLANES

    emb = rebalance(load_table(spark, sf_dir, "embeddings"))
    langs = (load_table(spark, sf_dir, "documents")
             .select(F.col("doc_id").alias("vec_id"), "lang"))
    e = (emb.join(langs, "vec_id")
            .select("vec_id", "lang", "embedding",
                    hyperplane_bucket(F.col("embedding"), HYPERPLANES)
                    .alias("bucket"),
                    vec_norm(F.col("embedding")).alias("_nrm")))
    x = (e.filter(F.col("lang") == _BTX_SRC_LANG)
          .select(F.col("vec_id").alias("src"),
                  F.col("embedding").alias("_qv"), "bucket",
                  F.col("_nrm").alias("_qn")))
    y = (e.filter(F.col("lang") == _BTX_DST_LANG)
          .select(F.col("vec_id").alias("dst"),
                  F.col("embedding").alias("_cv"),
                  F.col("bucket").alias("_cb"),
                  F.col("_nrm").alias("_cn")))
    # persist: fwd/bwd windows, both stat aggregates, and the
    # mutual-best join all read the candidate table
    cand = persist(x.join(y, F.col("bucket") == F.col("_cb"))
                    .select("src", "dst",
                            F.floor(_pair_cosine("_qv", "_cv", "_qn", "_cn")
                                    * 1000000 + F.lit(0.5)).cast("bigint")
                            .alias("ci")))
    wf = Window.partitionBy("src").orderBy(F.desc("ci"), F.asc("dst"))
    wb = Window.partitionBy("dst").orderBy(F.desc("ci"), F.asc("src"))
    fwd = cand.withColumn("rf", F.row_number().over(wf))
    bwd = cand.withColumn("rb", F.row_number().over(wb))
    fstat = (fwd.filter(F.col("rf") <= _BTX_K).groupBy("src")
                .agg(F.sum("ci").alias("sfw"), F.count("*").alias("kf")))
    bstat = (bwd.filter(F.col("rb") <= _BTX_K).groupBy("dst")
                .agg(F.sum("ci").alias("sbw"), F.count("*").alias("kb")))
    best = (fwd.filter(F.col("rf") == 1).select("src", "dst", "ci")
               .join(bwd.filter(F.col("rb") == 1).select("src", "dst"),
                     ["src", "dst"]))
    joined = best.join(fstat, "src").join(bstat, "dst")
    denom = F.col("sfw") * F.col("kb") + F.col("sbw") * F.col("kf")
    num = F.col("ci") * 2 * F.col("kf") * F.col("kb")
    return (joined
            .filter((F.col("ci") > 0) & (denom > 0)
                    & (num * 100 >= F.lit(_BTX_MARGIN_PCT) * denom))
            .select("src", "dst",
                    (F.col("ci").cast("double") / F.lit(1000000.0))
                    .alias("cosine"),
                    (num.cast("double") / denom.cast("double"))
                    .alias("margin")))


# ---------------------------------------------------------------------------
# Source-level overlap audit (MinHash estimate vs exact Jaccard)
# ---------------------------------------------------------------------------

def _src_sig_cols_sql() -> str:
    return ", ".join(
        f"MIN(({a} * h + {b}) % {P61}) AS m{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS))


def _src_sig_match_sql() -> str:
    return " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END"
        for i in range(len(MINHASH_COEFFS)))


@register(
    "source_overlap_audit",
    f"""
    WITH base AS (
      SELECT source, {_tok_sql()} AS toks FROM documents
    ),
    shg AS (
      SELECT source, unnest(list_distinct([{_h32_sql('s')}
                                           for s in {_shingles_sql()}])) AS h
      FROM base WHERE len(toks) >= 3
    ),
    sh AS (SELECT DISTINCT source, h FROM shg),
    sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
    sig AS (SELECT source, {_src_sig_cols_sql()} FROM sh GROUP BY source),
    inter AS (
      SELECT a.source AS sa, b.source AS sb, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT a.source AS source_a, b.source AS source_b,
           sza.n AS n_a, szb.n AS n_b,
           COALESCE(i.c, 0) AS n_common,
           COALESCE(i.c, 0)::DOUBLE
             / (sza.n + szb.n - COALESCE(i.c, 0))::DOUBLE AS exact_jaccard,
           CAST({_src_sig_match_sql()} AS BIGINT) AS sig_matches,
           CAST({_src_sig_match_sql()} AS DOUBLE)
             / {len(MINHASH_COEFFS)}.0 AS est_jaccard
    FROM sig a JOIN sig b ON a.source < b.source
    JOIN sizes sza ON sza.source = a.source
    JOIN sizes szb ON szb.source = b.source
    LEFT JOIN inter i ON i.sa = a.source AND i.sb = b.source
    """,
    doc="Corpus-overlap planning matrix: for every source pair, the "
        "16-permutation MinHash Jaccard ESTIMATE (signature over the "
        "union of the source's distinct shingle hashes) next to the "
        "EXACT shingle Jaccard — estimate and ground truth in one row, "
        "so the query doubles as a standing MinHash calibration audit "
        "at corpus granularity. The corpus reduces to distinct "
        "(source, 8-byte hash) rows in one shuffle; signatures are "
        "16 partial-agg minima (map-side combine does almost all the "
        "work), the exact intersection is an equi-join on the hash, "
        "and only the #sources^2 pair table — trivially small — is "
        "quadratic. est_jaccard = matches/16 is exact in binary.",
)
def source_overlap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # no tokenizing pre-filter: sub-shingle-width docs explode to zero
    # rows anyway, and the filter serialized a full regex pass in the
    # 1-2-task scan stage (filters push below the repartition)
    sh = (rebalance(d)
          .select("source",
                  F.explode(F.array_distinct(
                      F.transform(word_ngrams(F.col("text"), 3), h32)))
                   .alias("h"))
          .distinct())
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    sig = sh.groupBy("source").agg(*[
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(P61)).alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)])
    a = sig.select(F.col("source").alias("source_a"),
                   *[F.col(f"m{i}").alias(f"a{i}")
                     for i in range(len(MINHASH_COEFFS))])
    b = sig.select(F.col("source").alias("source_b"),
                   *[F.col(f"m{i}").alias(f"b{i}")
                     for i in range(len(MINHASH_COEFFS))])
    matches = sum(
        (F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
         for i in range(len(MINHASH_COEFFS))), F.lit(0))
    inter = (sh.alias("x").join(sh.alias("y"),
                                (F.col("x.h") == F.col("y.h"))
                                & (F.col("x.source") < F.col("y.source")))
               .groupBy(F.col("x.source").alias("source_a"),
                        F.col("y.source").alias("source_b"))
               .agg(F.count("*").alias("c")))
    pairs = (a.join(b, F.col("source_a") < F.col("source_b"))
              .join(F.broadcast(sizes.select(
                  F.col("source").alias("source_a"), F.col("n").alias("n_a"))),
                  "source_a")
              .join(F.broadcast(sizes.select(
                  F.col("source").alias("source_b"), F.col("n").alias("n_b"))),
                  "source_b")
              .join(F.broadcast(inter), ["source_a", "source_b"], "left"))
    n_common = F.coalesce(F.col("c"), F.lit(0).cast("bigint"))
    return pairs.select(
        "source_a", "source_b", "n_a", "n_b",
        n_common.alias("n_common"),
        (n_common.cast("double")
         / (F.col("n_a") + F.col("n_b") - n_common).cast("double"))
        .alias("exact_jaccard"),
        matches.cast("bigint").alias("sig_matches"),
        (matches.cast("double") / F.lit(float(len(MINHASH_COEFFS))))
        .alias("est_jaccard"))


# ---------------------------------------------------------------------------
# Bloom-filter decontamination
# ---------------------------------------------------------------------------

_BLOOM_N = 5          # decontamination shingle width (word 5-grams)
_BLOOM_M = 1 << 17    # filter bits (16 KiB)
_BLOOM_K = 3          # hash functions (first 3 pinned MinHash coeffs)


def _bloom_bits_sql(hvar: str) -> str:
    return ", ".join(
        f"(({a} * {hvar} + {b}) % {P61}) % {_BLOOM_M}"
        for a, b in MINHASH_COEFFS[:_BLOOM_K])


@register(
    "bloom_decontamination",
    f"""
    WITH base AS (
      SELECT doc_id, source, {_tok_sql()} AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id, source,
             unnest(list_distinct([{_h32_sql(
                 f"array_to_string(toks[i:i+{_BLOOM_N - 1}], ' ')")}
               for i in range(1, len(toks) - {_BLOOM_N - 2})])) AS h
      FROM base WHERE len(toks) >= {_BLOOM_N}
    ),
    bench AS (SELECT DISTINCT h FROM sh WHERE source = 'src0'),
    bits AS (SELECT DISTINCT unnest([{_bloom_bits_sql('h')}]) AS bit
             FROM bench),
    train AS (SELECT doc_id, h FROM sh WHERE source <> 'src0'),
    tb AS (SELECT doc_id, h, unnest([{_bloom_bits_sql('h')}]) AS bit
           FROM train),
    nb AS (SELECT tb.doc_id, tb.h, COUNT(*) AS k
           FROM tb JOIN bits USING (bit) GROUP BY tb.doc_id, tb.h)
    SELECT t.doc_id,
           COUNT(*) AS n_ngrams,
           CAST(SUM(CASE WHEN nb.k = {_BLOOM_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bloom_hits,
           CAST(SUM(CASE WHEN e.h IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact_hits,
           CAST(SUM(CASE WHEN nb.k = {_BLOOM_K} AND e.h IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
    FROM train t
    LEFT JOIN nb ON nb.doc_id = t.doc_id AND nb.h = t.h
    LEFT JOIN bench e ON e.h = t.h
    GROUP BY t.doc_id
    """,
    doc="Benchmark decontamination via a BLOOM FILTER (Bloom CACM'70): "
        f"the holdout's (source='src0') distinct word-{_BLOOM_N}-gram "
        f"hashes set k={_BLOOM_K} positions in an m=2^17-bit filter; a "
        "training shingle is flagged iff all three positions are set. "
        "The filter is ~16 KiB — it broadcasts everywhere the exact "
        "benchmark hash set might not — and membership costs one "
        "linear scan of training shingles against it. The exact check "
        "runs alongside, so each doc reports its Bloom hits, exact "
        "hits, and false positives; false NEGATIVES are impossible by "
        "construction (pinned in tests). The set-bit table stands in "
        "for the bitset relationally (<= m distinct ints, broadcast "
        "hash join); a cluster deployment would pack it into "
        "Spark's native BloomFilter via DataFrame.stat.bloomFilter "
        "with identical semantics.",
)
def bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # no tokenizing pre-filter: sub-shingle-width docs explode to zero
    # rows anyway (see source_overlap_audit note)
    sh = (rebalance(d)
          .select("doc_id", "source",
                  F.explode(F.array_distinct(
                      F.transform(word_ngrams(F.col("text"), _BLOOM_N), h32)))
                   .alias("h")))
    bit_exprs = [((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(P61))
                 % F.lit(_BLOOM_M)
                 for a, b in MINHASH_COEFFS[:_BLOOM_K]]
    bench = sh.filter(F.col("source") == "src0").select("h").distinct()
    bits = bench.select(F.explode(F.array(*bit_exprs)).alias("bit")).distinct()
    train = sh.filter(F.col("source") != "src0").select("doc_id", "h")
    tb = train.select("doc_id", "h",
                      F.explode(F.array(*bit_exprs)).alias("bit"))
    nb = (tb.join(F.broadcast(bits), "bit")
            .groupBy("doc_id", "h").agg(F.count("*").alias("k")))
    marked = (train
              .join(nb, ["doc_id", "h"], "left")
              .join(F.broadcast(bench.withColumn("ex", F.lit(1))), "h", "left"))
    bloom_hit = F.when(F.col("k") == _BLOOM_K, 1).otherwise(0)
    exact_hit = F.when(F.col("ex").isNotNull(), 1).otherwise(0)
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_ngrams"),
        F.sum(bloom_hit).cast("bigint").alias("n_bloom_hits"),
        F.sum(exact_hit).cast("bigint").alias("n_exact_hits"),
        F.sum(F.when((F.col("k") == _BLOOM_K) & F.col("ex").isNull(), 1)
               .otherwise(0)).cast("bigint").alias("n_false_pos"))


def _classifier_lab_ctes() -> str:
    """Shared oracle prefix: tokenized docs + the heuristic weak label
    (`lab`: doc_id, source, toks, label_high, shard) — the training
    signal both classifier queries distill from. ``shard`` is the
    deterministic h32(doc_id) % 2 corpus split the cross-shard eval
    uses; the in-place query ignores it."""
    from .llm_ext import STOPWORDS_SQL

    return f"""
    WITH t AS (
      SELECT doc_id, source, text, length(text) AS n,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS qtoks,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE {_tok_sql()} END AS toks
      FROM documents
    ), lab AS (
      SELECT doc_id, source, toks,
        (0.4 * least(1.0, len(qtoks)::DOUBLE / 64.0)
         + 0.3 * (1.0 - CASE WHEN n = 0 THEN 0.0 ELSE
             (n - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
               / n::DOUBLE END)
         + 0.3 * least(1.0, 4.0 * CASE WHEN len(qtoks) = 0 THEN 0.0 ELSE
             len(list_filter(qtoks, x -> lower(x) IN {STOPWORDS_SQL}))::DOUBLE
               / len(qtoks)::DOUBLE END)) >= 0.5 AS label_high,
        {_h32_sql('doc_id::VARCHAR')} % 2 AS shard
      FROM t
    )"""


def _classifier_score_ctes() -> str:
    """Shared oracle prefix through the per-doc score: lab (weak
    labels) + the hashed-linear-model fit and scoring CTEs. Weights
    in HUGEINT (int128 — exact, and DuckDB's DECIMAL(38)*DECIMAL(38)
    would overflow the 38-digit cap); Spark computes the same
    integers in DECIMAL(38,0). Consumers must not OUTPUT the hugeint
    score (portability gate) — only booleans/ranks/counts derived
    from it."""
    return f"""{_classifier_lab_ctes()}, ex AS (
      SELECT doc_id, label_high, {_h32_sql('tok')} % 1024 AS bucket
      FROM (SELECT doc_id, label_high, unnest(toks) AS tok FROM lab) u
    ), stats AS (
      SELECT bucket,
             COUNT(CASE WHEN label_high THEN 1 END) AS h,
             COUNT(CASE WHEN NOT label_high THEN 1 END) AS l
      FROM ex GROUP BY bucket
    ), tot AS (
      SELECT SUM(h)::HUGEINT AS h_tot, SUM(l)::HUGEINT AS l_tot FROM stats
    ), w AS (
      SELECT bucket, h::HUGEINT * l_tot - l::HUGEINT * h_tot AS w
      FROM stats, tot
    ), sc AS (
      SELECT ex.doc_id, SUM(w.w) AS score
      FROM ex JOIN w USING (bucket) GROUP BY ex.doc_id
    )"""


def _classifier_sql() -> str:
    """Oracle: weak-label -> hashed-linear-model -> score ->
    confusion rollup. Only booleans and counts are output, so no
    cross-engine numeric formatting is on the hash path."""
    return f"""{_classifier_score_ctes()}
    SELECT lab.source, lab.label_high,
           COALESCE(sc.score, 0) > 0 AS pred_high,
           COUNT(*) AS n_docs
    FROM lab LEFT JOIN sc USING (doc_id)
    GROUP BY lab.source, lab.label_high, pred_high
    """


@register(
    "quality_classifier_scores",
    None,  # oracle patched below (needs the STOPWORDS import at def time)
    doc="Weak-label quality-classifier distillation (CCNet / "
        "fineweb-edu pattern): the heuristic quality gate provides "
        "labels, a LINEAR model over 1024 hashed token buckets is "
        "fit in one aggregation (weight = cross-rate difference "
        "h_b*L - l_b*H, the exact-integer sign of the log-odds "
        "ratio — no ln(), no floats), the model re-scores every doc "
        "via a broadcast weight join, and the output is the per-"
        "source confusion rollup (label_high x pred_high counts). "
        "Model size is bounded by the bucket count regardless of "
        "corpus size (the hashing trick); shuffles carry (doc_id, "
        "bucket) and (doc_id, decimal) rows, never text. Exact "
        "arithmetic: Spark DECIMAL(38,0) == DuckDB HUGEINT.",
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import quality_score
    from ..operators.classifier import classify_docs

    # NOT rebalanced (tried r09, reverted): the labeled frame feeds
    # fit AND score subtrees, so a round-robin exchange of full text
    # executes per consumer and costs more than the narrow-stage
    # explode it parallelizes — the 1024-bucket partial agg already
    # keeps the single-task map side cheap here
    d = load_table(spark, sf_dir, "documents")
    labeled = d.withColumn("label_high",
                           quality_score(F.col("text")) >= 0.5)
    scored = classify_docs(labeled, "label_high", keep_cols=("source",))
    return (scored.groupBy("source", "label_high", "pred_high")
                  .agg(F.count("*").alias("n_docs")))


from . import REGISTRY as _REG_W6  # noqa: E402
from . import QuerySpec as _QS_W6  # noqa: E402

_REG_W6["quality_classifier_scores"] = _QS_W6(
    fn=_REG_W6["quality_classifier_scores"].fn,
    oracle=_classifier_sql(),
    doc=_REG_W6["quality_classifier_scores"].doc)


def _crossshard_sql() -> str:
    """Oracle for the distillation ROUND-TRIP: fit on shard 0, score
    shard 1 with the frozen weights, report per-source confusion plus
    precision/recall. The ratios are single IEEE divisions of exact
    integer counts — deterministic across engines (the ban is on
    float SUM ordering and ln()/round(), not on one division)."""
    return f"""{_classifier_lab_ctes()}, ex AS (
      SELECT doc_id, label_high, shard, {_h32_sql('tok')} % 1024 AS bucket
      FROM (SELECT doc_id, label_high, shard, unnest(toks) AS tok
            FROM lab) u
    ), stats AS (
      SELECT bucket,
             COUNT(CASE WHEN label_high THEN 1 END) AS h,
             COUNT(CASE WHEN NOT label_high THEN 1 END) AS l
      FROM ex WHERE shard = 0 GROUP BY bucket
    ), tot AS (
      SELECT SUM(h)::HUGEINT AS h_tot, SUM(l)::HUGEINT AS l_tot FROM stats
    ), w AS (
      SELECT bucket, h::HUGEINT * l_tot - l::HUGEINT * h_tot AS w
      FROM stats, tot
    ), sc AS (
      SELECT ex.doc_id, SUM(w.w) AS score
      FROM ex JOIN w USING (bucket) WHERE ex.shard = 1
      GROUP BY ex.doc_id
    ), ev AS (
      SELECT lab.source, lab.label_high,
             COALESCE(sc.score, 0) > 0 AS pred_high
      FROM lab LEFT JOIN sc USING (doc_id) WHERE lab.shard = 1
    ), conf AS (
      SELECT source,
        CAST(SUM(CASE WHEN label_high AND pred_high THEN 1 ELSE 0 END)
             AS BIGINT) AS n_tp,
        CAST(SUM(CASE WHEN NOT label_high AND pred_high THEN 1 ELSE 0 END)
             AS BIGINT) AS n_fp,
        CAST(SUM(CASE WHEN label_high AND NOT pred_high THEN 1 ELSE 0 END)
             AS BIGINT) AS n_fn,
        CAST(SUM(CASE WHEN NOT label_high AND NOT pred_high THEN 1 ELSE 0
                 END) AS BIGINT) AS n_tn
      FROM ev GROUP BY source
    )
    SELECT source, n_tp, n_fp, n_fn, n_tn,
           CASE WHEN n_tp + n_fp = 0 THEN 0.0
                ELSE n_tp::DOUBLE / (n_tp + n_fp)::DOUBLE END AS prec_high,
           CASE WHEN n_tp + n_fn = 0 THEN 0.0
                ELSE n_tp::DOUBLE / (n_tp + n_fn)::DOUBLE END AS rec_high
    FROM conf
    """


@register(
    "classifier_crossshard_eval",
    None,  # oracle patched below (same deferred pattern as above)
    doc="The SECOND half of the CCNet/fineweb-edu distillation loop "
        "(VERDICT r4 task #5): quality_classifier_scores fits and "
        "scores on the SAME corpus, which cannot show whether the "
        "model learned anything beyond memorizing its training "
        "labels. Here the corpus is split into two deterministic "
        "h32(doc_id)%2 shards, the hashed-linear model is fit ONLY "
        "on shard 0's weak labels, shard 1 is scored with the FROZEN "
        "weight table, and the output is shard 1's per-source "
        "confusion (n_tp/n_fp/n_fn/n_tn) plus precision/recall of "
        "pred_high against the heuristic label — cross-shard "
        "generalization, the stated point of distillation, pinned "
        "under the full value-hash oracle. Scale shape: identical to "
        "the in-place query (model bounded at 1024 rows and "
        "broadcast; shuffles carry (doc_id, bucket) pairs, never "
        "text); the shard filter prunes at the scan.",
)
def classifier_crossshard_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import quality_score
    from ..operators.classifier import hashed_logodds_weights, score_docs

    # NOT rebalanced — see quality_classifier_scores (tried r09,
    # reverted: labeled feeds 3+ subtrees)
    d = load_table(spark, sf_dir, "documents")
    labeled = d.withColumn("label_high",
                           quality_score(F.col("text")) >= 0.5) \
               .withColumn("shard",
                           h32(F.col("doc_id").cast("string")) % 2)
    train = labeled.filter(F.col("shard") == 0)
    hold = labeled.filter(F.col("shard") == 1)
    weights = hashed_logodds_weights(train, "label_high")
    scored = score_docs(hold, weights, "label_high",
                        keep_cols=("source",))
    tp = F.sum(F.when(F.col("label_high") & F.col("pred_high"), 1)
                .otherwise(0)).cast("bigint")
    fp = F.sum(F.when(~F.col("label_high") & F.col("pred_high"), 1)
                .otherwise(0)).cast("bigint")
    fn = F.sum(F.when(F.col("label_high") & ~F.col("pred_high"), 1)
                .otherwise(0)).cast("bigint")
    tn = F.sum(F.when(~F.col("label_high") & ~F.col("pred_high"), 1)
                .otherwise(0)).cast("bigint")
    conf = scored.groupBy("source").agg(tp.alias("n_tp"), fp.alias("n_fp"),
                                        fn.alias("n_fn"), tn.alias("n_tn"))
    prec_den = (F.col("n_tp") + F.col("n_fp")).cast("double")
    rec_den = (F.col("n_tp") + F.col("n_fn")).cast("double")
    return conf.select(
        "source", "n_tp", "n_fp", "n_fn", "n_tn",
        F.when(prec_den == 0, F.lit(0.0))
         .otherwise(F.col("n_tp").cast("double") / prec_den)
         .alias("prec_high"),
        F.when(rec_den == 0, F.lit(0.0))
         .otherwise(F.col("n_tp").cast("double") / rec_den)
         .alias("rec_high"))


_REG_W6["classifier_crossshard_eval"] = _QS_W6(
    fn=_REG_W6["classifier_crossshard_eval"].fn,
    oracle=_crossshard_sql(),
    doc=_REG_W6["classifier_crossshard_eval"].doc)
