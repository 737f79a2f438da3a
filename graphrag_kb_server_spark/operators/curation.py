"""Web-corpus curation filters: C4 line filtering, Gopher repetition
stats, PII redaction, URL canonicalization, corpus-wide paragraph
dedup.

These are the standard cleaning passes a Common-Crawl-scale training
pipeline runs between raw extracted text and dedup/sampling (C4:
Raffel et al. 2020 §2.2; Gopher: Rae et al. 2021 appendix A;
CCNet/RefinedWeb paragraph dedup). The reference server ingests
curated KBs and has no cleaning surface
(service/index_support.py feeds files straight to chunking), so this
module is part of the engine's training-data-pipeline extension
(SURVEY §2.7), same family as dedup.py / textstats.py / sampling.py.

Scale posture per operator:

- ``c4_line_filter`` / ``redact_pii`` / ``normalize_url`` /
  ``url_keep`` are **row-local Catalyst expressions** (HOFs + regexp)
  — no shuffle, no UDF, whole-stage codegen, predicate-pushdown
  friendly.
- ``gopher_repetition`` is two partial-aggregated hash aggregations
  (doc×line, then doc) — map-side combine collapses each partition to
  one row per key before either exchange; Zipfian line skew is
  bounded because the first key includes the doc id.
- ``paragraph_dedup`` is the only corpus-global op: winner election is
  ``min(struct(order, pos))`` per paragraph-hash — an AGGREGATION, not
  a window, so a boilerplate paragraph shared by 10^9 pages partial-
  aggregates instead of sorting one giant partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# C4-style line filtering (public heuristics, Raffel et al. 2020 §2.2)
# ---------------------------------------------------------------------------

#: a retained line must end in terminal punctuation
_TERMINAL_RE = r'[.!?"]\s*$'


#: C4's line floor (whitespace words) and document floor (kept lines)
MIN_WORDS = 3
MIN_KEPT_LINES = 3


def c4_line_filter(df: DataFrame, text_col: str) -> DataFrame:
    """Apply the C4 line/document heuristics to ``text_col``.

    Line level (a line is KEPT iff all hold):
      - ends in terminal punctuation (``. ! ? "``),
      - has at least ``MIN_WORDS`` whitespace words,
      - does not contain the word ``javascript`` (case-insensitive),
      - does not contain ``{`` or ``}``.
    Document level (``c4_keep``):
      - at least ``MIN_KEPT_LINES`` lines survived,
      - the document does not contain ``lorem ipsum``
        (case-insensitive) or an opening curly brace ``{`` (the
        C4 code-page heuristic keys on ``{``; line level drops both).

    Adds ``c4_text`` (kept lines re-joined), ``n_lines``,
    ``n_lines_kept``, ``c4_keep``. Pure HOF/regexp — row-local,
    codegen'd, zero shuffles.
    """
    t = F.col(text_col)
    lines = F.split(t, "\n")

    def _keep(line: Column) -> Column:
        lw = F.lower(line)
        return (
            line.rlike(_TERMINAL_RE)
            & (F.size(F.split(F.trim(line), r"\s+")) >= MIN_WORDS)
            & ~lw.contains("javascript")
            & ~line.contains("{")
            & ~line.contains("}")
        )

    # staged columns: the split and the filtered-lines array are each
    # referenced 3× downstream; as inline expressions the interpreted
    # filter+split would re-run per reference (CollapseProject keeps a
    # non-cheap expr referenced >1x in its own projection)
    kept = F.filter(F.col("_lines"), _keep)
    doc_ok = (
        (F.size(F.col("_kept")) >= MIN_KEPT_LINES)
        & ~F.lower(t).contains("lorem ipsum")
        & ~t.contains("{")
    )
    return (
        df.withColumn("_lines", lines)
        .withColumn("_kept", kept)
        .withColumn("c4_text", F.array_join(F.col("_kept"), "\n"))
        .withColumn("n_lines", F.size(F.col("_lines")))
        .withColumn("n_lines_kept", F.size(F.col("_kept")))
        .withColumn("c4_keep", doc_ok)
        .drop("_lines", "_kept")
    )


# ---------------------------------------------------------------------------
# Gopher repetition signals (Rae et al. 2021, appendix A1.1)
# ---------------------------------------------------------------------------

def gopher_repetition(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-document duplicate-line fractions.

    For each document: fraction of lines that are repeats of an
    earlier identical line, and the character-weighted version —
    the two repetition signals Gopher filters on (``dup_line_frac``
    > 0.30 / ``dup_line_char_frac`` > 0.20 drop the page; thresholds
    are the caller's policy, this computes the signals).

    Returns one row per document:
    ``(id, n_lines, dup_line_frac, dup_line_char_frac)``,
    fractions rounded to 6.

    Shape: explode → groupBy(doc, line) → groupBy(doc). Both
    aggregations partial-combine map-side; the first key contains the
    doc id, so a globally common line ("Subscribe now.") never
    concentrates on one reducer.
    """
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), "\n")).alias("u"),
    )
    per_unit = ex.groupBy("id", "u").agg(F.count(F.lit(1)).alias("cnt"))
    extra = F.col("cnt") - 1
    chars = F.length("u")
    out = per_unit.groupBy("id").agg(
        F.sum("cnt").cast("bigint").alias("n_lines"),
        F.round(
            F.sum(extra) / F.sum("cnt"), 6
        ).alias("dup_line_frac"),
        F.round(
            F.sum(extra * chars) / F.sum(F.col("cnt") * chars), 6
        ).alias("dup_line_char_frac"),
    )
    return out.withColumnRenamed("id", id_col)


def repetition_signal_cols(units: Column) -> dict[str, Column]:
    """Row-local variant of :func:`gopher_repetition` over an
    already-split array of lines — for composed pipelines where the
    text is a staged column and a shuffle per signal is wasteful.

    Identical arithmetic: the explode form sums ``cnt − 1`` per
    distinct unit, which equals ``n_units − n_distinct``; the
    char-weighted numerator ``Σ (cnt−1)·len`` equals
    ``total_chars − distinct_chars``. Rounding matches (6 places).

    One deliberate difference: denominators are guarded with
    ``greatest(·, 1)`` so the columns are safe to COMPUTE on rows a
    later filter drops (ANSI mode would otherwise raise on an
    all-empty-unit row that ``c4_keep`` is about to discard anyway);
    the explode form has no such rows because its input is the
    filter's survivor set.
    """
    n = F.size(units)
    dis = F.array_distinct(units)
    total_chars = F.aggregate(
        units, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    distinct_chars = F.aggregate(
        dis, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    return {
        "n_lines": n.cast("bigint"),
        "dup_line_frac": F.round(
            (n - F.size(dis)) / F.greatest(n, F.lit(1)), 6
        ),
        "dup_line_char_frac": F.round(
            (total_chars - distinct_chars)
            / F.greatest(total_chars, F.lit(1)).cast("double"),
            6,
        ),
    }


# ---------------------------------------------------------------------------
# PII redaction (regex scrub — emails, IPv4, international phone)
# ---------------------------------------------------------------------------

#: RE2-compatible subset (no lookaround/backrefs) so any engine that
#: mirrors these patterns gets identical matches.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
_PHONE_RE = r"\+\d{1,2}[- ]\d{3}[- ]\d{4}"


def redact_pii(df: DataFrame, text_col: str, out_col: str = "redacted") -> DataFrame:
    """Replace emails / IPv4 addresses / ``+N-NNN-NNNN`` phone numbers
    with ``<EMAIL>`` / ``<IP>`` / ``<PHONE>`` and count each.

    Order matters and is fixed (email → ip → phone) so the output is
    deterministic: an email is consumed before its digits can be
    misread, and the inserted tags contain no digits for later
    patterns to re-match. Pure ``regexp_replace``/``regexp_count`` —
    row-local, codegen'd.
    """
    t = F.col(text_col)
    step1 = F.regexp_replace(t, _EMAIL_RE, "<EMAIL>")
    step2 = F.regexp_replace(step1, _IPV4_RE, "<IP>")
    step3 = F.regexp_replace(step2, _PHONE_RE, "<PHONE>")
    return (
        df.withColumn("n_emails", F.regexp_count(t, F.lit(_EMAIL_RE)))
        .withColumn("n_ips", F.regexp_count(step1, F.lit(_IPV4_RE)))
        .withColumn("n_phones", F.regexp_count(step2, F.lit(_PHONE_RE)))
        .withColumn(out_col, step3)
    )


# ---------------------------------------------------------------------------
# URL canonicalization + fetch-worthiness filter
# ---------------------------------------------------------------------------

#: query parameters that never change page content (tracking)
_TRACKING_PARAMS = (
    "utm_[a-z]+", "fbclid", "gclid", "msclkid", "mc_cid", "mc_eid", "ref",
)
_TRACKING_RE = "^(?:" + "|".join(_TRACKING_PARAMS) + ")="

#: extensions that are never text documents
_NON_TEXT_EXT = (
    "jpg jpeg png gif webp svg ico css js mjs woff woff2 ttf eot "
    "mp3 mp4 avi mov webm wav zip gz tar rar 7z exe dmg iso pdf"
).split()


def normalize_url(url_col: Column) -> Column:
    """Canonical form of a URL — the dedup/partition key a crawl-scale
    corpus uses so ``HTTP://Ex.COM/a?utm_source=x&b=1#top`` and
    ``http://ex.com/a?b=1`` collapse.

    Steps (each a row-local Catalyst expression):
      1. strip the ``#fragment``;
      2. strip userinfo (``user:pass@``);
      3. lowercase the scheme+host head (path/query untouched);
      4. drop default ports (``:80`` for http, ``:443`` for https);
      5. drop tracking query parameters (utm_*, fbclid, gclid, …),
         sort the survivors for order-independence, drop an
         empty ``?``.
    """
    u = F.regexp_replace(url_col, r"#.*$", "")
    u = F.regexp_replace(u, r"^([A-Za-z][A-Za-z0-9+.-]*://)[^/@?#]*@", r"$1")
    # head = scheme://authority (the '//' would otherwise stop a bare
    # [^/]* class at the scheme); scheme-less URLs fall back to host only
    head = F.regexp_extract(u, r"^((?:[A-Za-z][A-Za-z0-9+.-]*://)?[^/?#]*)", 1)
    tail = F.substring(u, F.length(head) + F.lit(1), F.length(u))
    head = F.lower(head)
    head = F.regexp_replace(head, r"^(http://[^/:]+):80$", r"$1")
    head = F.regexp_replace(head, r"^(https://[^/:]+):443$", r"$1")
    path = F.regexp_extract(tail, r"^([^?]*)", 1)
    query = F.when(
        tail.contains("?"),
        F.substring(tail, F.length(path) + F.lit(2), F.length(tail)),
    ).otherwise(F.lit(""))
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING_RE),
    )
    new_query = F.array_join(F.array_sort(params), "&")
    return F.concat(
        head,
        path,
        F.when(new_query != "", F.concat(F.lit("?"), new_query)).otherwise(
            F.lit("")
        ),
    )


def url_keep(url_col: Column) -> Column:
    """True iff the (normalized) URL is worth fetching as text:
    http(s) scheme, and the path extension is not a known binary/media
    type. Row-local predicate — pushes down to the scan."""
    scheme_ok = url_col.rlike(r"^https?://")
    # extension taken from the PATH component only: anchored past the
    # host (so a path-less "https://update.zip" is not dropped for its
    # .zip TLD) and terminated at ?/# (so "?file=x.mp4" in a query
    # string is not treated as the page's own extension)
    ext = F.lower(
        F.regexp_extract(
            url_col,
            r"^https?://[^/?#]+/[^?#]*\.([A-Za-z0-9]{1,6})(?:[?#]|$)",
            1,
        )
    )
    return scheme_ok & ~ext.isin(*_NON_TEXT_EXT)


# ---------------------------------------------------------------------------
# Corpus-wide paragraph-level exact dedup (CCNet / RefinedWeb style)
# ---------------------------------------------------------------------------

#: the paragraph separator of paragraph_dedup (a regex without
#: metacharacters, so F.split and array_join agree on it)
PARAGRAPH_SEP = "\n\n"


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Remove every paragraph (blank-line separated) that appeared
    earlier in the corpus (first occurrence wins; order = ``(id,
    position)``), then reassemble each document from its surviving
    paragraphs.

    This is the cross-document boilerplate killer (cookie banners,
    footers) that document-level dedup cannot express.

    Shape — aggregation-only winner election, skew-safe by design:
      1. explode paragraphs with position;
      2. per md5(paragraph): ``min(struct(id, pos))`` — ONE hash
         aggregation with map-side partial combine; a paragraph on
         10^9 pages still reduces to one row per partition before the
         shuffle (a window over the hash would instead sort the whole
         hot partition);
      3. semi-join winners back on (hash, id, pos);
      4. groupBy(id): sort surviving positions, re-join text.

    Note: ``id`` ordering uses the column's natural type ordering
    (numeric ids compare numerically, strings lexicographically).
    Returns ``(id, n_paras, n_paras_kept, text)`` with ``text``
    rebuilt from survivors.
    """
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), PARAGRAPH_SEP)).alias("pos", "para"),
    ).withColumn("h", F.md5("para"))
    winners = paras.groupBy("h").agg(
        F.min(F.struct("id", "pos")).alias("w")
    ).select("h", F.col("w.id").alias("id"), F.col("w.pos").alias("pos"))
    kept = paras.join(winners, ["h", "id", "pos"], "left_semi")
    totals = paras.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_paras")
    )
    survivors = kept.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_paras_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            PARAGRAPH_SEP,
        ).alias(text_col),
    )
    # left join from totals: a document whose every paragraph was a
    # repeat still gets a row (0 kept, empty text), it does not vanish
    out = (
        totals.join(survivors, "id", "left")
        .select(
            "id",
            "n_paras",
            F.coalesce("n_paras_kept", F.lit(0)).cast("bigint").alias(
                "n_paras_kept"
            ),
            F.coalesce(text_col, F.lit("")).alias(text_col),
        )
    )
    return out.withColumnRenamed("id", id_col)


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap vs an eval set)
# ---------------------------------------------------------------------------

def word_ngrams(text_col: Column, n: int) -> Column:
    """Word-level ``n``-grams of a text column as an array of
    space-joined strings; tokens = lowercase maximal ``[a-z0-9]`` runs
    (the tokenizer both sides of a decontamination join must share).
    Texts with fewer than ``n`` tokens yield an empty array. Pure HOF
    expression — row-local, codegen'd."""
    from ..functions.hashing import bind_once

    # bind_once: `toks` is referenced inside the position lambda —
    # as an outer expression the split+filter would re-run for every
    # n-gram position (O(words²) per doc); bound as a lambda variable
    # it is computed once per row
    def _body(toks):
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - n + 1),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return bind_once(
        F.filter(F.split(F.lower(text_col), "[^a-z0-9]+"), lambda t: t != ""),
        _body,
    )


def ngram_decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str,
    n: int = 8,
) -> DataFrame:
    """Flag training documents that share any word-level ``n``-gram
    with a benchmark/eval set — the standard test-set decontamination
    pass (GPT-3: Brown et al. 2020 appendix C uses 13-gram overlap;
    default 8 here because the synthetic docs are short). The reference
    server has no eval-leakage surface; this belongs to the
    training-data-pipeline extension (SURVEY §2.7).

    Returns every row of ``df``'s ``(id, contaminated, overlap_ngrams)``
    where ``overlap_ngrams`` counts DISTINCT offending n-grams.

    Shape: the benchmark side is exploded to distinct n-grams and
    **broadcast** (eval sets are tiny — MMLU+HellaSwag+… is megabytes
    against 100 TB of training text), so the big side never shuffles
    for the probe: explode → broadcast-hash semi-probe → per-doc
    count(distinct gram) keyed by the doc id (partial-aggregated; the
    distinct set per doc is bounded by the benchmark's n-gram count).
    One exchange total, on ``id``.
    """
    bench_grams = (
        benchmark.select(
            F.explode(word_ngrams(F.col(bench_text_col), n)).alias("g")
        )
        .distinct()
    )
    doc_grams = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(word_ngrams(F.col(text_col), n)).alias("g"),
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "g")
        .groupBy("id")
        .agg(F.count_distinct("g").alias("overlap_ngrams"))
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .distinct()
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("overlap_ngrams") > 0, F.lit(False)).alias(
                "contaminated"
            ),
            F.coalesce("overlap_ngrams", F.lit(0)).cast("bigint").alias(
                "overlap_ngrams"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Corpus-wide repeated n-grams (boilerplate mining)
# ---------------------------------------------------------------------------


def hot_ngrams(
    df: DataFrame,
    text_col: str,
    n: int = 3,
    min_doc_freq: int = 3,
) -> DataFrame:
    """Mine word-level ``n``-grams that appear in at least
    ``min_doc_freq`` DISTINCT documents — the corpus-frequency side of
    repeated-passage detection (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": memorization tracks
    sequences duplicated across documents, not within one).

    Returns ``(g, doc_freq)``. Tokenization is :func:`word_ngrams`'s
    (shared with decontamination, so the two signals compose).

    Shape at 100 TB: ``array_distinct`` BEFORE the explode makes each
    document contribute each gram once, so ``count(*)`` IS the
    document frequency — no ``count_distinct``/Expand anywhere. The
    single exchange keys on the gram with map-side partial
    aggregation: a boilerplate gram on 10^9 pages reduces to one row
    per partition before it shuffles, which is exactly the hot-key
    regime partial combine exists for. The ``min_doc_freq`` filter
    runs post-aggregate (it must — frequency is the aggregate), and
    everything it discards died map-side first.
    """
    grams = df.select(
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("g")
    )
    return (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_freq"))
        .where(F.col("doc_freq") >= min_doc_freq)
    )


def boilerplate_ngram_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_doc_freq: int = 3,
) -> DataFrame:
    """Per-document boilerplate signal: the fraction of a document's
    n-gram POSITIONS whose gram is corpus-hot (per :func:`hot_ngrams`)
    — position-weighted, so a page that repeats one hot slogan twenty
    times scores higher than a page quoting it once. Documents with
    fewer than ``n`` tokens yield ``n_ngrams = 0`` and fraction 0.

    Returns every input row as ``(id, n_ngrams, hot_ngrams,
    boilerplate_frac)``.

    Shape: the hot set is **broadcast** — by construction it holds only
    grams crossing ``min_doc_freq``, orders of magnitude smaller than
    the gram stream. The left join has multiplicity 1 (the hot set is
    distinct-by-key), so the only other exchange is the per-doc count
    aggregation on ``id``.
    """
    hot = hot_ngrams(df, text_col, n, min_doc_freq)
    probe = F.broadcast(hot.select("g").withColumn("_hot", F.lit(1)))
    positions = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(word_ngrams(F.col(text_col), n)).alias("g"),
    )
    marked = positions.join(probe, "g", "left")
    out = marked.groupBy("id").agg(
        F.sum(F.when(F.col("g").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_ngrams"),
        F.sum(F.coalesce(F.col("_hot"), F.lit(0))).cast("bigint").alias(
            "hot_ngrams"
        ),
    )
    return out.select(
        F.col("id").alias(id_col),
        "n_ngrams",
        "hot_ngrams",
        F.round(
            F.col("hot_ngrams") / F.greatest(F.col("n_ngrams"), F.lit(1)), 6
        ).alias("boilerplate_frac"),
    )


def duplicate_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    span_len: int = 40,
    sample_mod: int = 4,
) -> DataFrame:
    """Cross-document duplicated-span detection — the substring-level
    dedup signal of Lee et al. 2022 ("Deduplicating Training Data..."),
    re-shaped for Spark: instead of a corpus suffix array, hash every
    ``span_len``-char window and keep the CONTENT-KEYED sample of
    positions whose window hash falls in 1/``sample_mod`` of the hash
    space. Content-keyed sampling is the property that matters: the
    same span selects the same windows in every document containing
    it, so a shared span of length L ≥ span_len is detected with
    probability 1 − (1 − 1/m)^(L − span_len + 1) — near-certain for
    spans a few windows long, exactly 1/m at the minimum length (the
    honest trade against hashing every byte; lower ``sample_mod`` to
    tighten).

    ``sample_mod`` must be a power of two ≤ 256: the selector uses the
    first 2 hex chars (8 bits) of the window md5, so a modulus that
    does not divide 256 would over-select residue 0 by up to 2x the
    advertised 1/m rate (m = 255 selects 2/256 ≈ 0.78% of windows, not
    1/255 ≈ 0.39%).

    Output is AGGREGATION-shaped, never pairs: per duplicated span
    hash, (span_md5, n_docs, n_sites, first_site, last_site) with
    sites as ``doc:pos`` strings and exemplars via min/max — a
    boilerplate span shared by 10^6 documents costs one combined
    aggregation row, not C(10^6, 2) join rows. n_docs ≥ 2 only.
    """
    if not (1 <= sample_mod <= 256 and sample_mod & (sample_mod - 1) == 0):
        raise ValueError(
            f"sample_mod must be a power of two <= 256 (got {sample_mod}): "
            "the selector draws 8 bits of the window hash, so other moduli "
            "skew the 1/m sampling rate"
        )
    sel = (
        F.conv(F.substring(F.col("_h"), 1, 2), 16, 10).cast("bigint")
        % sample_mod
        == 0
    )
    windows = (
        docs.select(
            F.col(id_col).cast("string").alias("_id"),
            F.col(text_col).alias("_t"),
        )
        # shorter docs contain no span_len-char span: without this
        # guard the whole text becomes a pseudo-window and identical
        # short/empty docs report as duplicated "spans"
        .where(F.length("_t") >= span_len)
        .select(
            "_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(
                            F.length("_t") - (span_len - 1), F.lit(1)
                        ),
                    ),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.md5(F.substring("_t", i, span_len)).alias("h"),
                    ),
                )
            ).alias("w"),
        )
        .select("_id", F.col("w.pos").alias("_pos"), F.col("w.h").alias("_h"))
        .where(sel)
    )
    per_doc = windows.groupBy("_h", "_id").agg(
        F.count(F.lit(1)).alias("_cnt"), F.min("_pos").alias("_minpos")
    )
    site = F.concat_ws(":", F.col("_id"), F.col("_minpos").cast("string"))
    return (
        per_doc.groupBy(F.col("_h").alias("span_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_cnt").cast("bigint").alias("n_sites"),
            F.min(site).alias("first_site"),
            F.max(site).alias("last_site"),
        )
        .where(F.col("n_docs") >= 2)
    )
