"""Text-analysis operators for training-data pipelines — all pure
Catalyst expressions (whole-stage codegen; no Python UDFs).

- language-ID        — stopword-hit heuristic over small per-language
                       marker sets (n-gram/stopword scoring)
- quality scoring    — length / punctuation / stopword-ratio features
                       with an interpretable 0..1 score
- token counting     — whitespace tokens + a BPE-ish regex token count

Reference analogue: the reference filters/normalizes text only lightly
(link extraction regex at service/link_extraction_service.py:80-104,
html unescape at lightrag_clustering.py:295-298); these operators are
the web-scale preprocessing the north rule's corpus needs before the
KG stages.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: stopword markers for the 12 highest-web-share LATIN-script languages
#: (distinctive small sets; ties broken by code order, deterministic)
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "with", "for"],
    "de": ["der", "die", "das", "und", "ist", "mit", "für", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "dans", "pour", "une"],
    "es": ["el", "la", "los", "que", "es", "con", "para", "una"],
    "pt": ["não", "uma", "com", "por", "mais", "como", "dos", "são"],
    "it": ["il", "gli", "che", "per", "del", "della", "sono", "anche"],
    "nl": ["het", "een", "van", "niet", "met", "voor", "zijn", "ook"],
    "pl": ["nie", "się", "jest", "że", "aby", "przez", "oraz", "tego"],
    "sv": ["och", "att", "det", "som", "på", "är", "av", "inte"],
    "tr": ["bir", "ve", "bu", "için", "ile", "olarak", "daha", "gibi"],
    "id": ["yang", "dan", "di", "untuk", "dengan", "ini", "tidak", "pada"],
    "ro": ["și", "pentru", "este", "care", "sunt", "din", "mai", "să"],
}

#: non-Latin scripts → language code (dominant-script detection; a page
#: of Chinese/Russian/Arabic text has no Latin stopwords to score)
_SCRIPT_RANGES = {
    "zh": "一-鿿",  # Han
    "ja": "぀-ヿ",  # Hiragana + Katakana
    "ko": "가-힯",  # Hangul
    "ru": "Ѐ-ӿ",  # Cyrillic
    "ar": "؀-ۿ",  # Arabic
    "hi": "ऀ-ॿ",  # Devanagari
    "el": "Ͱ-Ͽ",  # Greek
}

#: Latin letters incl. Latin-1 accents + Latin Extended-A (pl/tr
#: letters like ś ş ğ live in U+0100–U+017F) + dotless ı + the
#: Romanian COMMA-below letters ș/ț (U+0219/U+021B, Latin Extended-B —
#: outside Ā-ſ; without them the most frequent Romanian word 'și' can
#: never match because the word-split treats ș as a delimiter)
_LATIN_CLASS = "a-zà-ÿäöüßĀ-ſıșț"


def _marker_hits(words: Column, markers: list[str]) -> Column:
    marker_arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.array_intersect(F.array_distinct(words), marker_arr))


def _char_count(text_col: Column, char_class: str) -> Column:
    return F.length(F.regexp_replace(text_col, f"[^{char_class}]", ""))


#: language ID classifies a bounded PREFIX of the document — the
#: standard trick (fastText et al. sample): per-doc cost is constant
#: regardless of document length, and 600 chars of running text carry
#: ample script/stopword signal
LANG_ID_SAMPLE_CHARS = 600
#: the quantiles corpus_profile reports
QUANTILES = (0.25, 0.5, 0.75, 0.95)


def language_id(text_col: Column) -> Column:
    """Best-scoring language code, 'und' when nothing hits.

    Two-stage web-scale cascade, all pure Catalyst, over the first
    ``LANG_ID_SAMPLE_CHARS`` characters:
    1. dominant-SCRIPT detection — when non-Latin script characters
       outnumber Latin letters, classify by the winning Unicode block
       (zh/ja/ko/ru/ar/hi/el; Han with any kana present → ja, since
       Japanese text mixes kanji with kana while Chinese has none);
    2. otherwise Latin stopword-marker scoring over the 12 languages in
       ``_LANG_MARKERS``. Deterministic tie-break: language code order.

    An ASCII fast-path gate (one regex pass) skips the 8 script-count
    passes for pure-ASCII samples — a pure optimization: with zero
    non-ASCII chars every script count is zero and the cascade falls
    through to the marker branch anyway.
    """
    text_col = F.substring(text_col, 1, LANG_ID_SAMPLE_CHARS)
    lower = F.lower(text_col)
    script_counts = {
        code: _char_count(text_col, rng)
        for code, rng in _SCRIPT_RANGES.items()
    }
    latin = _char_count(lower, _LATIN_CLASS)
    nonlat_total = None
    for c in script_counts.values():
        nonlat_total = c if nonlat_total is None else nonlat_total + c

    best_script = None
    for c in script_counts.values():
        best_script = c if best_script is None else F.greatest(best_script, c)
    script_expr = F.lit("und")
    for code in sorted(script_counts, reverse=True):  # earlier codes win ties
        script_expr = F.when(
            (script_counts[code] == best_script) & (best_script > 0),
            F.lit(code),
        ).otherwise(script_expr)
    script_expr = F.when(
        (script_expr == F.lit("zh")) & (script_counts["ja"] > 0), F.lit("ja")
    ).otherwise(script_expr)

    words = F.split(lower, f"[^{_LATIN_CLASS}]+")
    scores = [
        (_marker_hits(words, m), lang) for lang, m in sorted(_LANG_MARKERS.items())
    ]
    best = scores[0][0]
    for s, _ in scores[1:]:
        best = F.greatest(best, s)
    latin_expr = F.lit("und")
    for s, lang in reversed(scores):  # earlier langs win ties
        latin_expr = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(latin_expr)

    nonascii = F.length(F.regexp_replace(text_col, "[\\x00-\\x7F]", ""))
    return F.when(nonascii == 0, latin_expr).otherwise(
        F.when(nonlat_total > latin, script_expr).otherwise(latin_expr)
    )


def add_language_id(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "lang_pred",
) -> DataFrame:
    """Staged (fast) form of :func:`language_id` — identical result.

    The single-Column form repeats the split/intersect subtree for
    every branch of the tie-break CASE (~30× per row; higher-order
    array expressions evaluate interpreted, so codegen's common-
    subexpression elimination never sees them — measured 17 s for 5k
    docs). Staging each non-cheap piece as its own column makes
    CollapseProject keep it in its own Project (computed once); the
    CASE then only references cheap int columns. Same cascade, same
    tie-breaks, ~50× faster.
    """
    t = F.substring(F.col(text_col), 1, LANG_ID_SAMPLE_CHARS)
    out = df.withColumn("_lid_t", t)
    out = out.withColumn(
        "_lid_words",
        F.array_distinct(
            F.split(F.lower(F.col("_lid_t")), f"[^{_LATIN_CLASS}]+")
        ),
    )
    hit_cols, script_cols = {}, {}
    for lang, ms in sorted(_LANG_MARKERS.items()):
        hit_cols[lang] = f"_lid_h_{lang}"
        out = out.withColumn(
            hit_cols[lang],
            F.size(
                F.array_intersect(
                    F.col("_lid_words"), F.array(*[F.lit(m) for m in ms])
                )
            ),
        )
    for code, rng in _SCRIPT_RANGES.items():
        script_cols[code] = f"_lid_s_{code}"
        out = out.withColumn(
            script_cols[code], _char_count(F.col("_lid_t"), rng)
        )
    out = out.withColumn(
        "_lid_latin", _char_count(F.lower(F.col("_lid_t")), _LATIN_CLASS)
    ).withColumn(
        "_lid_nonascii",
        F.length(F.regexp_replace(F.col("_lid_t"), "[\\x00-\\x7F]", "")),
    )

    best = None
    for lang in sorted(hit_cols):
        c = F.col(hit_cols[lang])
        best = c if best is None else F.greatest(best, c)
    latin_expr = F.lit("und")
    for lang in sorted(hit_cols, reverse=True):
        latin_expr = F.when(
            (F.col(hit_cols[lang]) == best) & (best > 0), F.lit(lang)
        ).otherwise(latin_expr)

    best_script = None
    nonlat_total = None
    for code in script_cols:
        c = F.col(script_cols[code])
        best_script = c if best_script is None else F.greatest(best_script, c)
        nonlat_total = c if nonlat_total is None else nonlat_total + c
    script_expr = F.lit("und")
    for code in sorted(script_cols, reverse=True):
        script_expr = F.when(
            (F.col(script_cols[code]) == best_script) & (best_script > 0),
            F.lit(code),
        ).otherwise(script_expr)
    script_expr = F.when(
        (script_expr == F.lit("zh")) & (F.col(script_cols["ja"]) > 0),
        F.lit("ja"),
    ).otherwise(script_expr)

    final = F.when(F.col("_lid_nonascii") == 0, latin_expr).otherwise(
        F.when(nonlat_total > F.col("_lid_latin"), script_expr).otherwise(
            latin_expr
        )
    )
    out = out.withColumn(out_col, final)
    drop = (
        ["_lid_t", "_lid_words", "_lid_latin", "_lid_nonascii"]
        + list(hit_cols.values())
        + list(script_cols.values())
    )
    return out.drop(*drop)


def whitespace_token_count(text_col: Column) -> Column:
    # split('') yields [''] (size 1): empty/whitespace-only text must
    # count 0 words, not 1 — blank pages should not earn length credit
    # in the quality score
    return F.when(F.length(F.trim(text_col)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(text_col), r"\s+"))
    )


def bpe_ish_token_count(text_col: Column) -> Column:
    """Count of GPT-2-pre-tokenizer-style tokens (letters runs, digit
    runs, punctuation runs) — the JVM twin of tokenizer.count_tokens
    (whitespace is attached to tokens there, so counts align for
    space-separated text)."""
    return F.size(
        F.regexp_extract_all(
            text_col, F.lit(r"'(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]+"), 0
        )
    )


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Attach interpretable quality columns + a combined score 0..1:
    penalizes too-short/too-long docs, low alpha ratio, low stopword
    ratio (gibberish), and excessive punctuation."""
    t = F.col(text_col)
    words = F.split(F.lower(t), r"[^a-z]+")
    n_chars = F.length(t)
    n_words = whitespace_token_count(t)
    alpha_ratio = (
        F.length(F.regexp_replace(t, r"[^A-Za-z]", "")) / F.greatest(n_chars, F.lit(1))
    )
    punct_ratio = (
        F.length(F.regexp_replace(t, r"[^.,;:!?]", "")) / F.greatest(n_chars, F.lit(1))
    )
    stop_ratio = _marker_hits(words, _LANG_MARKERS["en"]) / F.lit(8.0)
    len_score = F.when(n_words < 5, n_words / 5.0).when(
        n_words > 5000, F.lit(0.5)
    ).otherwise(F.lit(1.0))
    score = (
        0.35 * len_score
        + 0.25 * F.least(alpha_ratio * 1.25, F.lit(1.0))
        + 0.25 * F.least(stop_ratio, F.lit(1.0))
        + 0.15 * (1.0 - F.least(punct_ratio * 5, F.lit(1.0)))
    )
    return (
        df.withColumn("n_chars", n_chars)
        .withColumn("n_words", n_words)
        .withColumn("alpha_ratio", F.round(alpha_ratio, 6))
        .withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn("quality_score", F.round(score, 6))
    )


def extract_links(text_col: Column) -> Column:
    """P11 — the reference's URL regex
    (service/link_extraction_service.py:80-104), trailing punctuation
    stripped, distinct."""
    urls = F.regexp_extract_all(
        text_col, F.lit(r'(https?://[^\s<>"{}|\\^`\[\]]+)'), 1
    )
    return F.array_distinct(
        F.transform(urls, lambda u: F.regexp_replace(u, r"[.;)\],]+$", ""))
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
) -> DataFrame:
    """Per-document top-``k`` terms by tf-idf over the whole corpus —
    the corpus-statistics keyword extractor (vs Q1's per-query regex
    keywords). Terms are the lowercase ``[a-z0-9]`` runs of 2+
    characters (the tokenizer shared with decontamination/hot-ngrams);
    smoothed idf = ``ln((N+1)/(df+1)) + 1`` (scikit-learn's convention)
    so corpus-universal terms still score, and ties break on the term
    string.

    Returns ``(id, term, tf, df, tfidf, term_rank)``, ≤ k rows/doc.

    Shape at 100 TB: term frequencies aggregate on (doc, term) with
    map-side combine; document frequencies reuse those distinct pairs
    (a second, term-keyed aggregation — never a count_distinct over
    raw tokens); N rides in as a broadcast 1-row aggregate (no driver
    action). The idf join keys both sides on the term — the df frame
    is |vocabulary|-sized, typically broadcastable, but the plan
    leaves that call to AQE. The final top-k window partitions by doc
    id — bounded by each doc's distinct-term count, never corpus-wide.
    """
    from pyspark.sql import Window

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda t: F.length(t) >= 2,
    )
    pairs = (
        df.select(F.col(id_col).alias("id"), F.explode(toks).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    docfreq = pairs.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    n_docs = df.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    scored = (
        pairs.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id", "term", "tf", "df",
            (
                F.col("tf")
                * (
                    F.log((F.col("_n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                    + F.lit(1.0)
                )
            ).alias("_score"),
        )
    )
    # rank on the ROUNDED score: Java's Math.log and other engines'
    # ln() differ in the last ulp, so full-precision ordering is not
    # portable across engines — 6 decimals is, and ties then break
    # deterministically on the term string
    scored = scored.withColumn("tfidf", F.round("_score", 6))
    w = Window.partitionBy("id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= k)
        .select(
            F.col("id").alias(id_col), "term", "tf", "df", "tfidf",
            "term_rank",
        )
    )


def iqr_outlier_filter(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: float = 1.5,
) -> DataFrame:
    """Tukey-fence outlier filter per group: keep rows with
    ``value ∈ [q1 − k·IQR, q3 + k·IQR]`` computed within their group —
    the distribution-aware length/quality filter that replaces global
    magic thresholds (a 300-char Chinese doc and a 300-char German doc
    sit at very different percentiles).

    One exact-percentile aggregation per group (rows = #groups) joined
    back as a broadcast; the filter itself is row-local. Adds
    ``lo``/``hi`` bound columns for auditability. Exact percentiles
    keep the bounds engine-portable (DuckDB quantile_cont parity);
    swap approx_percentile at 100 TB, same contract.
    """
    v = F.col(value_col).cast("double")
    fences = (
        df.groupBy(group_col)
        .agg(
            F.percentile(v, F.lit(0.25)).alias("_q1"),
            F.percentile(v, F.lit(0.75)).alias("_q3"),
        )
        .select(
            group_col,
            F.round(
                F.col("_q1") - k * (F.col("_q3") - F.col("_q1")), 6
            ).alias("lo"),
            F.round(
                F.col("_q3") + k * (F.col("_q3") - F.col("_q1")), 6
            ).alias("hi"),
        )
    )
    return (
        df.join(F.broadcast(fences), group_col)
        .where((v >= F.col("lo")) & (v <= F.col("hi")))
    )


def corpus_profile(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group distribution profile: count / min / max / mean and
    EXACT linear-interpolation quantiles of ``value_col`` — the
    observability pass a curation run reports per language/domain
    before choosing filter thresholds.

    ``F.percentile`` (exact, not approx_percentile) is a single
    sort-based aggregation per group; exactness is what makes the
    numbers engine-portable (DuckDB's quantile_cont computes the same
    interpolation — the oracle relies on it). At 100 TB swap in
    ``approx_percentile`` when a 1e-4 relative error is acceptable;
    the profile contract stays the same.

    Returns (group, n, vmin, vmax, mean, q_25, q_5, q_75, q_95), the
    quantiles of ``QUANTILES`` 4-dp rounded.
    """
    pct = F.percentile(
        F.col(value_col).cast("double"),
        F.array(*[F.lit(float(q)) for q in QUANTILES]),
    )
    qcols = [
        F.round(F.element_at(F.col("_qs"), i + 1), 4).alias(
            f"q_{str(q).replace('0.', '')}"
        )
        for i, q in enumerate(QUANTILES)
    ]
    return (
        df.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.col(value_col).cast("double")).alias("vmin"),
            F.max(F.col(value_col).cast("double")).alias("vmax"),
            F.round(F.avg(F.col(value_col).cast("double")), 4).alias("mean"),
            pct.alias("_qs"),
        )
        .select(group_col, "n", "vmin", "vmax", "mean", *qcols)
    )
