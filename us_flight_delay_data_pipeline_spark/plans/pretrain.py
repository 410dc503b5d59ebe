"""The pretraining-data funnel — the [EXT] north-star workload
(BASELINE.json): compose the corpus operators into the standard
keep/drop pipeline and report the per-stage funnel every data team
publishes with a dataset release.

Stages (each operates on the previous stage's survivors):

  0 base       the raw corpus
  1 quality    heuristic quality gate (quality_score >= 0.5)
  2 exact      exact dedup — keep the lowest doc_id per md5(text)
  3 fuzzy      fuzzy dedup — near-dup pairs (n-gram Jaccard >= 0.3,
               lang-blocked) clustered by connected components; only
               cluster canonicals (min doc_id) survive
  4 decontam   drop the benchmark docs themselves (source='src0' is
               the stand-in holdout set) AND any training doc sharing
               a word-5-gram with the ORIGINAL benchmark set
  5 sample     deterministic per-language sampling
               (h32(doc_id) % 100 < rate[lang])

Execution shape — the FLAG TABLE formulation (round 4; the earlier
version persisted four full-text stage boundaries, which at corpus
scale is a 1000x-too-large cache footprint and showed 10->100 s
variance under storage churn):

- ONE narrow pass over the corpus computes per-doc (token count,
  quality flag, md5) — so tokenization/quality regexes run ONCE, not
  once per stage row — persisted at ~30 bytes/doc, no text.
- Exact-dedup membership is a min-over-md5-window on that narrow
  table (no keep-set join, no text shuffle).
- The expensive derived sets (near-dup ids, contaminated ids) are
  document-id sets folded in as join markers — with NO forced
  broadcast hint: they scale with corpus dup rate (20-50% on web
  corpora), so AQE decides at runtime from measured size.
- Each stage's survivorship is then a BOOLEAN COLUMN on the flag
  table and the whole funnel is one conditional aggregation + a
  6-row unpivot — not six aggregations over six cached corpora.
- Full text is persisted exactly once (the exact-dedup survivors,
  consumed twice: fuzzy-pair generation and decontamination
  shingles); nothing else materializes text after its stage no
  longer needs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import quality_score, word_ngrams, word_tokens
from ..operators.cache import persist
from ..operators.components import connected_components
from ..operators.dedup import ngram_jaccard_pairs
from ..operators.hashing import h32

__all__ = ["pretrain_funnel", "SAMPLE_RATES", "QUALITY_MIN", "DECON_NGRAM"]

QUALITY_MIN = 0.5
DECON_NGRAM = 5
SAMPLE_RATES = {"en": 50, "zh": 20}  # default 10
_DEFAULT_RATE = 10

_STAGES = ["base", "quality", "exact_dedup", "fuzzy_dedup",
           "decontam", "sample"]


def _shingle_hashes(df: DataFrame) -> DataFrame:
    """(doc_id, h) for every distinct word-5-gram hash of lowercased
    text; docs shorter than the shingle width emit nothing (their
    ngram array is empty, so the explode drops them — no pre-filter
    needed: a size(word_tokens(...)) predicate would re-tokenize every
    doc inside the 1-2-task scan stage, serializing a full regex pass
    the post-rebalance projection then repeats 32-wide)."""
    from ..functions.core import rebalance

    return (rebalance(df)
              .select("doc_id",
                      F.explode(F.array_distinct(F.transform(
                          word_ngrams(F.col("text"), DECON_NGRAM), h32)))
                       .alias("h")))


def pretrain_funnel(docs: DataFrame) -> DataFrame:
    """Run the funnel over a ``documents``-shaped DataFrame and return
    one row per stage: (stage_idx, stage, n_docs, n_tokens)."""
    from ..functions.core import rebalance

    # rebalance: the corpus arrives as few fat scan partitions; the
    # quality regexes and shingle hashing are CPU-bound and need
    # width, not bytes
    base = rebalance(docs.select("doc_id", "lang", "source", "text"))

    # --- one narrow pass: everything per-doc the funnel arithmetic
    # needs, computed once, no text retained -------------------------
    toks = word_tokens(F.lower(F.col("text")))
    narrow = base.select(
        "doc_id", "lang", "source",
        F.size(toks).cast("bigint").alias("n_tok"),
        (quality_score(F.col("text")) >= QUALITY_MIN).alias("s_quality"),
        F.md5(F.col("text").cast("binary")).alias("th"),
    )
    # exact dedup without a keep-set join: within each text-hash group
    # the (quality-surviving) minimum doc_id is the keeper
    w = Window.partitionBy("th")
    qmin = F.min(F.when(F.col("s_quality"), F.col("doc_id"))).over(w)
    flags = persist(narrow
                    .withColumn("s_exact", F.col("s_quality")
                                & (F.col("doc_id") == qmin))
                    .drop("th"))

    # --- exact survivors WITH text: the only full-text materialization
    # (consumed by fuzzy-pair generation and decontamination shingles)
    exact_docs = persist(base.join(flags.filter("s_exact").select("doc_id"),
                                   "doc_id", "left_semi"))

    pairs = ngram_jaccard_pairs(exact_docs, block_col="lang",
                                threshold=0.3).select("doc_a", "doc_b")
    dupes = (connected_components(pairs, src="doc_a", dst="doc_b")
             .filter(F.col("node") != F.col("component"))
             .select(F.col("node").alias("doc_id"),
                     F.lit(True).alias("is_dupe")))

    # benchmark shingles come from the ORIGINAL corpus (the holdout
    # set is fixed; upstream filtering must not shrink it)
    bench = (_shingle_hashes(base.filter(F.col("source") == "src0"))
             .select("h").distinct())
    # No explicit broadcast hints on the dup/contaminated/benchmark id
    # sets: they scale with corpus dup rate (20-50% on web corpora)
    # and holdout size, not with a fixed model bound, so a forced
    # broadcast is an executor-memory hazard at the 100 TB posture.
    # AQE (enabled in session.py) broadcasts them at runtime whenever
    # their measured size is under the threshold — same plan at bench
    # scale, safe degradation at corpus scale.
    fuzzy_docs = exact_docs.join(dupes.select("doc_id"),
                                 "doc_id", "left_anti")
    contaminated = (_shingle_hashes(
                        fuzzy_docs.filter(F.col("source") != "src0"))
                    .join(bench, "h")
                    .select("doc_id").distinct()
                    .withColumn("is_contam", F.lit(True)))

    # --- fold the tiny id sets back as flags and derive every stage's
    # survivorship as a boolean chain ---------------------------------
    rate = F.lit(_DEFAULT_RATE)
    for lang, r in sorted(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)

    staged = (flags
              .join(dupes, "doc_id", "left")
              .join(contaminated, "doc_id", "left")
              .withColumn("s_fuzzy",
                          F.col("s_exact")
                          & ~F.coalesce("is_dupe", F.lit(False)))
              .withColumn("s_decontam",
                          F.col("s_fuzzy")
                          & (F.col("source") != "src0")
                          & ~F.coalesce("is_contam", F.lit(False)))
              .withColumn("s_sample",
                          F.col("s_decontam")
                          & (h32(F.col("doc_id").cast("string")) % 100
                             < rate)))

    # --- the whole funnel = one conditional aggregation + a 6-row
    # unpivot (vs six aggregations over six cached corpora) -----------
    survive = [F.lit(True), F.col("s_quality"), F.col("s_exact"),
               F.col("s_fuzzy"), F.col("s_decontam"), F.col("s_sample")]
    aggs = []
    for i, cond in enumerate(survive):
        aggs.append(F.coalesce(F.sum(F.when(cond, 1).cast("bigint")),
                               F.lit(0)).alias(f"d{i}"))
        aggs.append(F.coalesce(F.sum(F.when(cond, F.col("n_tok"))
                                     .cast("bigint")),
                               F.lit(0)).alias(f"t{i}"))
    wide = staged.agg(*aggs)
    rows = F.array(*[
        F.struct(F.lit(i).cast("int").alias("stage_idx"),
                 F.lit(name).alias("stage"),
                 F.col(f"d{i}").alias("n_docs"),
                 F.col(f"t{i}").alias("n_tokens"))
        for i, name in enumerate(_STAGES)])
    return (wide.select(F.explode(rows).alias("r"))
                .select("r.stage_idx", "r.stage", "r.n_docs", "r.n_tokens"))
