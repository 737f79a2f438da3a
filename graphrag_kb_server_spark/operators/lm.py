"""Statistical language-model scoring for corpus curation.

The CCNet recipe (and every descendant: RedPajama, Dolma, FineWeb)
filters web text by PERPLEXITY under a small LM trained on a trusted
corpus — fluent text scores low, boilerplate/gibberish scores high.
The reference server has no LM surface (its corpora are pre-curated);
this module is part of the engine's training-data-pipeline extension,
same family as operators/textstats.py quality scores.

Spark-first shape — an n-gram LM is just two aggregations and a join:

- **train**: bigram counts ``c(w1, w2)`` and context counts ``c(w1)``
  are map-side-combined ``groupBy().count()`` passes over the exploded
  token stream. Zipfian token skew is absorbed by partial aggregation
  (each partition emits one row per key before the shuffle).
- **score**: each document's bigrams re-join the count tables
  (shuffle join on the bigram key; single hot keys are split by AQE
  skew-join) and the per-document mean negative log-likelihood is one
  final aggregation on the document id. Add-k smoothing:
  ``p(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V)``.

Everything stays in Catalyst (split/filter/slice/zip_with HOFs +
joins); no Python runs per row. The per-document NLL is rounded to
6 dp — the ~1e-12 summation-order ULP noise of a few hundred log
terms can never flip a rounded value, which is what makes the score
reproducible across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the stupid-backoff factor α of trigram_backoff_nll
ALPHA = 0.4
#: BM25's term-frequency saturation k1 and length normalization b
K1 = 1.2
B = 0.75


def tokens_col(text_col) -> F.Column:
    """Whitespace tokens of lowercased text, empties removed — the
    shared LM tokenization. Delegates to tokenize.words_of so the LM,
    BPE, and streaming families can never fork their tokenization (the
    SQL oracles mirror this ONE definition)."""
    from graphrag_kb_server_spark.operators.tokenize import words_of

    return words_of(text_col)


def _bigrams(toks) -> F.Column:
    """Adjacent-pair structs via zip_with over the two shifted slices
    (no index lambda: interpreted HOFs re-evaluate outer expressions
    per element, and zip_with touches each slice element exactly
    once)."""
    n = F.size(toks)
    return F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )


def _token_stream(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) — one row per bigram occurrence."""
    return (
        docs.select(
            F.col(id_col).alias("_id"),
            _bigrams(tokens_col(F.col(text_col))).alias("_bg"),
        )
        .select("_id", F.explode("_bg").alias("b"))
        .select("_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )


def _trigrams(toks) -> F.Column:
    """Adjacent-triple structs from three shifted slices (arrays_zip:
    one pass, no index lambda)."""
    n = F.size(toks)
    m = F.greatest(n - 2, F.lit(0))
    return F.arrays_zip(
        F.slice(toks, 1, m).alias("w1"),
        F.slice(toks, 2, m).alias("w2"),
        F.slice(toks, 3, m).alias("w3"),
    )


def trigram_backoff_nll(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    train: DataFrame | None = None,
) -> DataFrame:
    """Per-document NLL under a trigram LM with STUPID BACKOFF (Brants
    et al. 2007 — the web-scale LM recipe: no discounting to tune,
    counts are the whole model):

        s(w3|w1w2) = c(w1w2w3)/c(w1w2)            if trigram seen
                   = α·c(w2w3)/c(w2)              elif bigram seen
                   = α²·c(w3)/N                   else (0.5/N if w3 unseen)

    ``train`` defaults to ``docs`` (self-scoring); pass a trusted
    subset to make the backoff chain actually fire on unseen n-grams.
    All four count tables are map-side-combined aggregations; scoring
    is a chain of left joins on (w1,w2,w3)/(w1,w2)/(w2,w3)/(w2)/(w3)
    — each a key-partitioned exchange, AQE-skew-safe — and one per-doc
    aggregation. NLL rounded to 6 dp (summation-order immunity).
    Returns (id, n_trigrams, nll).
    """
    if train is None:
        train = docs

    def tri_stream(d: DataFrame) -> DataFrame:
        return (
            d.select(
                F.col(id_col).alias("_id"),
                F.explode(
                    _trigrams(tokens_col(F.col(text_col)))
                ).alias("t"),
            )
            .select(
                "_id",
                F.col("t.w1").alias("w1"),
                F.col("t.w2").alias("w2"),
                F.col("t.w3").alias("w3"),
            )
        )

    # the train-side streams feed FOUR (tr) / TWO (uni) count
    # aggregations; a lazy checkpoint makes the tokenize+explode pass
    # run once instead of once per aggregation (guide §2.4 — the
    # repeated subtree is the expensive part, the cached stream is
    # disk-backed at scale)
    tr = tri_stream(train).localCheckpoint(eager=False)
    c3 = tr.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("_c3"))
    c12 = tr.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c12"))
    c23 = tr.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("_c23"))
    c2 = tr.groupBy("w2").agg(F.count(F.lit(1)).alias("_c2"))
    uni = train.select(
        F.explode(tokens_col(F.col(text_col))).alias("w3")
    ).localCheckpoint(eager=False)
    c_u = uni.groupBy("w3").agg(F.count(F.lit(1)).alias("_cu"))
    n_tot = uni.agg(F.count(F.lit(1)).cast("double").alias("_nt"))

    a = F.lit(ALPHA)
    score = F.when(
        F.coalesce(F.col("_c3"), F.lit(0)) > 0,
        F.col("_c3") / F.col("_c12"),
    ).otherwise(
        a
        * F.when(
            F.coalesce(F.col("_c23"), F.lit(0)) > 0,
            F.col("_c23") / F.col("_c2"),
        ).otherwise(
            a * F.coalesce(F.col("_cu"), F.lit(0.5)) / F.col("_nt")
        )
    )
    scored = (
        tri_stream(docs)
        .join(c3, ["w1", "w2", "w3"], "left")
        .join(c12, ["w1", "w2"], "left")
        .join(c23, ["w2", "w3"], "left")
        .join(c2, ["w2"], "left")
        .join(c_u, ["w3"], "left")
        .crossJoin(F.broadcast(n_tot))
        .select("_id", F.log(score).alias("_lp"))
    )
    per_doc = scored.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.round(-F.avg("_lp"), 6).alias("nll"),
    )
    ids = docs.select(F.col(id_col).alias("_id")).distinct()
    return ids.join(per_doc, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
        "nll",
    )


def bm25_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 10,
) -> DataFrame:
    """BM25 lexical retrieval: top-k documents for a query string —
    the lexical twin of the engine's vector top-k family (the
    reference retrieves by embedding cosine; every production RAG
    stack pairs that with BM25).

    Robertson/Sparck-Jones with the Lucene idf:
    ``idf = ln(1 + (N − df + 0.5)/(df + 0.5))``,
    ``score = Σ_t idf_t · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))``.

    Scale shape: the query terms are PLAN LITERALS, so the postings
    aggregation runs on the term-filtered token stream — the filter
    sits below the explode's aggregation and only query-term tokens
    ever reach an exchange (the inverted-index probe, expressed
    declaratively). df/N/avgdl are one tiny broadcast and one 1-row
    crossJoin; the final top-k is TakeOrderedAndProject. Scores are
    6-dp rounded with an id tie-break — engine-stable boundaries.
    """
    q_terms = sorted(
        {t for t in query.lower().split() if t}
    )
    toks = docs.select(
        F.col(id_col).alias("_id"),
        tokens_col(F.col(text_col)).alias("_toks"),
    ).select(
        "_id",
        F.size("_toks").alias("_dl"),
        F.explode("_toks").alias("term"),
    )
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("_nn"),
        F.avg(F.size(tokens_col(F.col(text_col)))).alias("_avgdl"),
    )
    hits = toks.where(F.col("term").isin(q_terms))
    postings = hits.groupBy("_id", "term").agg(
        F.count(F.lit(1)).alias("_tf"), F.first("_dl").alias("_dl")
    )
    df_t = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("_df")
    )
    scored = (
        postings.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "_id",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("_nn") - F.col("_df") + 0.5)
                    / (F.col("_df") + 0.5)
                )
                * (F.col("_tf") * (K1 + 1.0))
                / (
                    F.col("_tf")
                    + K1 * (1.0 - B + B * F.col("_dl") / F.col("_avgdl"))
                )
            ).alias("_s"),
        )
        .groupBy("_id")
        .agg(F.round(F.sum("_s"), 6).alias("score"))
    )
    return (
        scored.select(F.col("_id").alias(id_col), "score")
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )


def pmi_collocations(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 5,
    top_k: int = 100,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information — the phrase
    miner (new_york, prime_minister) every tokenizer/vocab pipeline
    runs before segmentation.

    PMI(w1,w2) = ln( c(w1,w2) · N / (c₁(w1) · c₂(w2)) ) with N the
    total bigram count and c₁/c₂ the slot-marginal counts — all four
    are map-side-combined aggregations over the one exploded bigram
    stream; the marginals join back on their slot key and N broadcasts
    as a 1-row crossJoin. ``min_count`` kills the low-frequency noise
    PMI is famously sensitive to. Deterministic top-k: ordered by
    (pmi desc, w1, w2) — a total order, so the boundary is the same in
    every engine; pmi rounded to 6 dp.
    """
    # bg feeds four aggregations — one tokenize+explode pass, cached
    bg = _token_stream(docs, id_col, text_col).localCheckpoint(eager=False)
    pair_c = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c_pair")
    )
    left_c = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c_left"))
    right_c = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("c_right"))
    total = bg.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    return (
        pair_c.where(F.col("c_pair") >= min_count)
        .join(left_c, "w1")
        .join(right_c, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1", "w2", "c_pair",
            F.round(
                F.log(
                    F.col("c_pair") * F.col("_n")
                    / (F.col("c_left") * F.col("c_right"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(top_k)
    )


def bigram_lm(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Train: (w1, w2, c_bigram, c_context) — the sufficient statistic
    of an add-k bigram LM, as a DataFrame (the model IS a table; at
    100 TB it lives in parquet, not driver memory)."""
    bg = _token_stream(docs, id_col, text_col).localCheckpoint(eager=False)
    bigram_c = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c_bigram")
    )
    context_c = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c_context"))
    return bigram_c.join(context_c, "w1")


def lm_perplexity(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    model: DataFrame | None = None,
    k: float = 0.1,
) -> DataFrame:
    """Per-document perplexity under an add-k bigram LM.

    ``model`` defaults to an LM trained on ``docs`` itself (the
    self-scoring mode used for outlier detection); pass a ``bigram_lm``
    frame trained on a trusted corpus for the CCNet filtering mode —
    then unseen bigrams/contexts fall back to the smoothing floor via
    the left joins' coalesce(0).

    Returns (id, n_bigrams, nll, ppl): nll = mean −log p(w2|w1)
    rounded to 6 dp, ppl = exp(nll) rounded to 4 dp. Documents with
    fewer than two tokens carry n_bigrams = 0 and NULL scores.
    """
    if model is None:
        model = bigram_lm(docs, id_col, text_col)

    # vocabulary size = distinct context types — one scalar, derived
    # from the model table itself so train/score stay consistent
    vocab = model.select("w1").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("_v")
    )

    # context counts join on w1 alone: an unseen bigram with a SEEN
    # context must still use c(w1), not the smoothing floor
    contexts = model.select("w1", "c_context").distinct()

    bg = _token_stream(docs, id_col, text_col).localCheckpoint(eager=False)
    scored = (
        bg.join(model.select("w1", "w2", "c_bigram"), ["w1", "w2"], "left")
        .join(contexts, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "_id",
            F.log(
                (F.coalesce(F.col("c_bigram"), F.lit(0)) + F.lit(float(k)))
                / (F.coalesce(F.col("c_context"), F.lit(0))
                   + F.lit(float(k)) * F.col("_v"))
            ).alias("_logp"),
        )
    )
    per_doc = scored.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(-F.avg("_logp"), 6).alias("nll"),
    )
    # left join back so token-poor documents are reported, not dropped
    ids = docs.select(F.col(id_col).alias("_id")).distinct()
    return (
        ids.join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "nll",
            F.round(F.exp("nll"), 4).alias("ppl"),
        )
    )
