"""Composed web-corpus curation — the full training-data funnel in one
pass.

Chains the curation operators the way a crawl-scale pipeline actually
runs them (C4 line/document heuristics → Gopher repetition signals →
quality score → language ID → PII redaction → exact content dedup)
instead of one scan per signal. Mirrors the preprocessing stance of the
reference's ingest path (it converts and sanitizes every uploaded
document before chunking — graphrag_kb_server/service/*_support.py) and
of the public C4/Gopher recipes the individual operators cite.

Shape at 100 TB — the whole point of composing:
- ONE scan of the corpus. Every signal except the final dedup is
  row-local (codegen'd regexp / staged HOF columns, no UDFs): the C4
  line filter, the duplicate-line fractions (computed with array HOFs —
  identical arithmetic to ``gopher_repetition``'s explode+agg form,
  ``repeats = n_units − n_distinct`` — but zero shuffles), the quality
  score, the 19-language ID cascade, and the PII scrub.
- ONE exchange in the whole plan: the content-hash groupBy of the
  final exact dedup (bounded-width md5 key, never the text).
- PII redaction runs AFTER the keep-filter so the three regexp passes
  only touch survivors.
- Stats ride a single aggregate over slim staged boolean columns; the
  one ``countDistinct`` (post-dedup survivor count) is isolated in that
  slim aggregate so its Expand never touches document text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.curation import c4_line_filter, redact_pii, repetition_signal_cols
from ..operators.dedup import exact_dedup
from ..operators.textstats import add_language_id, quality_features

__all__ = ["curate_corpus"]

#: Gopher's duplicate-line bounds (by line count, by character mass)
MAX_DUP_LINE_FRAC = 0.30
MAX_DUP_LINE_CHAR_FRAC = 0.20
#: the quality_score floor of a kept document
MIN_QUALITY = 0.30


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """documents → (kept, stats).

    ``kept``: one row per surviving document — ``id_col``, ``text``
    (the C4-kept lines, PII-redacted), the quality/language columns,
    and ``dup_group_size`` (how many identical copies the exact dedup
    collapsed). ``stats``: a single-row funnel frame
    ``(n_docs, n_c4, n_rep, n_quality, n_lang, n_kept)`` where each
    count is the survivors after that stage (cumulative) and
    ``n_kept`` is the post-dedup cardinality. Every language is kept,
    so ``n_lang`` equals ``n_quality``; the language column rides along
    as ``lang_pred``.

    Thresholds are the published defaults (C4's line heuristics;
    Gopher drops pages with >30% duplicate lines, >20% by character
    mass); ``MIN_QUALITY`` is the caller's policy.
    """
    staged = c4_line_filter(docs, text_col)
    # duplicate-line fractions over the C4-kept lines, row-locally —
    # the staged _units column is bound once so the interpreted HOFs
    # evaluate one split per row, not one per consumer
    staged = staged.withColumn("_units", F.split(F.col("c4_text"), "\n"))
    for name, col in repetition_signal_cols(F.col("_units")).items():
        staged = staged.withColumn(name, col)
    staged = staged.drop("_units")
    staged = quality_features(staged, "c4_text")
    staged = add_language_id(staged, "c4_text", out_col="lang_pred")

    rep_ok = (F.col("dup_line_frac") <= MAX_DUP_LINE_FRAC) & (
        F.col("dup_line_char_frac") <= MAX_DUP_LINE_CHAR_FRAC
    )
    quality_ok = F.col("quality_score") >= MIN_QUALITY
    staged = (
        staged.withColumn("rep_ok", rep_ok)
        .withColumn("quality_ok", quality_ok)
        .withColumn("keep", F.col("c4_keep") & rep_ok & quality_ok)
    )

    # funnel stats in ONE aggregate over slim columns only: the
    # countDistinct (exact post-dedup count, null-skipping) forces an
    # Expand, so the input is projected down to three booleans + one
    # 32-char hash before the aggregate — document text never rides it
    slim = staged.select(
        "c4_keep",
        "rep_ok",
        "keep",
        F.when(F.col("keep"), F.md5(F.col("c4_text"))).alias("_kh"),
    )
    stats = slim.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("c4_keep").cast("long")).alias("n_c4"),
        F.sum((F.col("c4_keep") & F.col("rep_ok")).cast("long")).alias("n_rep"),
        F.sum(F.col("keep").cast("long")).alias("n_quality"),
        F.count_distinct(F.col("_kh")).alias("n_kept"),
    ).select(
        "n_docs", "n_c4", "n_rep", "n_quality",
        F.col("n_quality").alias("n_lang"), "n_kept",
    )

    survivors = staged.where(F.col("keep"))
    # PII scrub only on survivors (three regexp passes over kept text)
    survivors = redact_pii(survivors, "c4_text", out_col="text_curated")
    # the plan's single exchange: md5(content) groupBy; min-id winner
    kept = exact_dedup(survivors, "text_curated", id_col).select(
        id_col,
        F.col("text_curated").alias("text"),
        "lang_pred",
        "quality_score",
        "n_words",
        "dup_line_frac",
        "n_emails",
        "n_ips",
        "n_phones",
        "dup_group_size",
    )
    return kept, stats
