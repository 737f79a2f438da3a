"""Tokenizer induction for training-data pipelines: distributed BPE.

Byte-pair-encoding vocabularies are trained on WORD FREQUENCIES, not on
the raw corpus — the standard architecture every production trainer
(SentencePiece, HF tokenizers) uses, and the one that makes tokenizer
training tractable at web scale:

1. **word_freqs** — one distributed pass over the corpus: lowercase,
   whitespace-split, groupBy(word).count(). Shuffles the DISTINCT word
   table, not the corpus; map-side partial aggregation compresses each
   partition to its own vocabulary first.
2. **bpe_train** — the merge loop runs driver-side over the collected
   (word, freq) table. This is NOT a scale compromise: the frequency
   table IS the sufficient statistic for BPE (identical merges to a
   corpus-order pass), it is bounded (``max_words`` errors rather than
   silently truncating), and each merge mutates a few thousand symbol
   sequences — work that would be pure scheduling overhead as a Spark
   job per merge.
3. **bpe_encode** — applying the trained merges is distributed again,
   with the distinct-word trick: encode each DISTINCT word once (a
   Pandas UDF over the deduplicated word table — Arrow-batched, never
   per-row Python over the corpus), then join the encodings back and
   reassemble documents in word order. The join's build side is the
   distinct-word table (broadcastable under AQE when small).

Determinism contract (what the golden twin + oracle pin): pair counts
weight every adjacent occurrence by word frequency; the best pair is
(max count, then lexicographically smallest (left, right)); a merge
replaces non-overlapping occurrences left-to-right; training stops at
``num_merges`` or when the best count < ``MIN_PAIR_FREQ``. Encoding
repeatedly applies the present pair with the lowest merge rank. Same
inputs → same vocabulary, on any partitioning and any engine.

Reference note: the reference server ships no tokenizer training; this
module belongs to the engine's training-data-pipeline extension family
(dedup/curation/sampling), same contract style as operators/sampling.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: end-of-word sentinel symbol (kept out of the in-word character set)
EOW = "</w>"
#: bound on the collected distinct-word table (errors, never truncates)
MAX_WORDS = 5_000_000
#: a merge needs its pair to occur at least this often (frequency-weighted)
MIN_PAIR_FREQ = 2
#: unigram seed vocabulary: longest piece, min piece count, multi-char
#: pieces kept
MAX_PIECE_LEN = 6
UNIGRAM_MIN_FREQ = 2
MAX_VOCAB = 2000


def words_of(text_col: Column) -> Column:
    """ARRAY<STRING> of lowercase whitespace words, empties dropped —
    the tokenization both the trainer and the encoder key on."""
    return F.filter(
        F.split(F.lower(F.trim(text_col)), r"\s+"), lambda w: w != ""
    )


def word_freqs(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over the corpus — the compressed sufficient
    statistic BPE trains on. One explode + one partial-aggregated
    groupBy; the corpus itself is never shuffled."""
    return (
        df.select(F.explode(words_of(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def _pair_counts(seqs: dict[str, list[str]], freqs: dict[str, int]):
    counts: dict[tuple[str, str], int] = {}
    for w, syms in seqs.items():
        f = freqs[w]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            counts[p] = counts.get(p, 0) + f
    return counts


def _merge_seq(syms: list[str], a: str, b: str) -> list[str]:
    """Replace non-overlapping (a, b) occurrences left-to-right."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_train_from_freqs(
    freq_rows: list[tuple[str, int]],
    num_merges: int,
) -> list[tuple[int, str, str, str, int]]:
    """Deterministic BPE merge sequence from a (word, freq) table.

    Returns [(rank, left, right, merged, count_at_merge)]. Ties on
    count break to the lexicographically smallest (left, right) pair,
    so the result is independent of input order."""
    freqs = {w: int(f) for w, f in freq_rows}
    seqs = {w: list(w) + [EOW] for w in freqs}
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(num_merges):
        counts = _pair_counts(seqs, freqs)
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), c = best
        if c < MIN_PAIR_FREQ:
            break
        merges.append((rank, a, b, a + b, int(c)))
        seqs = {
            w: _merge_seq(s, a, b) if a in s else s for w, s in seqs.items()
        }
    return merges


def bpe_merges(
    spark_df: DataFrame,
    text_col: str,
    num_merges: int,
    max_words: int = MAX_WORDS,
) -> DataFrame:
    """Train BPE over a corpus DataFrame → (rank, left, right, merged,
    freq) merge table.

    The distributed part is the word-frequency pass; the merge loop is
    driver-side over the collected frequency table (see module
    docstring — the table is the sufficient statistic and is bounded).
    ``max_words`` ERRORS when the distinct-word table exceeds it
    rather than silently truncating the vocabulary.
    """
    pdf = word_freqs(spark_df, text_col).toPandas()  # Arrow batch, not Rows
    if len(pdf) > max_words:
        raise ValueError(
            f"bpe_merges: {len(pdf)} distinct words exceed "
            f"max_words={max_words}; refusing to truncate"
        )
    merges = bpe_train_from_freqs(
        list(zip(pdf["word"], pdf["freq"])), num_merges
    )
    return spark_df.sparkSession.createDataFrame(
        merges, "rank int, left string, right string, merged string, freq bigint"
    )


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode ONE word with trained merge ranks: repeatedly apply the
    present pair with the lowest rank until none applies."""
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (syms[i], syms[i + 1])
        if best_pair is None:
            break
        syms = _merge_seq(syms, *best_pair)
    return syms


def _encode_distinct_words(
    df: DataFrame,
    id_col: str,
    text_col: str,
    encode_udf,
    count_alias: str,
    count_type: str,
) -> DataFrame:
    """Shared distinct-word encode scaffolding (BPE + unigram): each
    DISTINCT word is encoded ONCE by the Arrow-batched UDF, joined
    back, and documents reassembled in word order — no per-row Python
    over the corpus. Documents with NO words are reported with an
    empty token string and count 0, not dropped (the left join back to
    the id set; a silent drop would desync any row-per-doc oracle)."""
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(words_of(F.col(text_col))).alias("pos", "word"),
    )
    distinct_words = exploded.select("word").distinct().select(
        "word", encode_udf(F.col("word")).alias("toks")
    )
    per_doc = (
        exploded.join(distinct_words, "word")
        .groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "toks"))),
                    lambda s: s["toks"],
                ),
                " ",
            ).alias("tokens")
        )
    )
    ids = df.select(F.col(id_col).alias("id")).distinct()
    return (
        ids.join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("tokens", F.lit("")).alias("tokens"),
        )
        .select(
            "id",
            F.when(F.col("tokens") == "", F.lit(0))
            .otherwise(F.size(F.split("tokens", " ")))
            .cast(count_type)
            .alias(count_alias),
            "tokens",
        )
    )


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: DataFrame,
) -> DataFrame:
    """Tokenize a corpus with a trained merge table → (id, n_tokens,
    tokens) with ``tokens`` the space-joined token string in document
    order.

    Scale shape: the Pandas UDF encodes each DISTINCT word once; the
    corpus-side cost is an explode + a join against the distinct-word
    encodings + an ordered reassembly — no per-row Python over the
    corpus, no quadratic work. The merge table is collected once
    (vocabulary-sized) and shipped in the UDF closure.
    """
    mp = merges.select("rank", "left", "right").toPandas()
    ranks = {
        (l, r): int(k)
        for k, l, r in zip(mp["rank"], mp["left"], mp["right"])
    }

    @F.pandas_udf("string")
    def encode_udf(words: pd.Series) -> pd.Series:
        return words.map(
            lambda w: " ".join(bpe_encode_word(w, ranks))
        )

    return _encode_distinct_words(
        df, id_col, text_col, encode_udf, "n_tokens", "bigint"
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece-style, hard-EM)
# ---------------------------------------------------------------------------

#: encode-time floor for characters never seen in training
_UNK_LOGP = -100.0


def unigram_seed_vocab(freq_rows: list[tuple[str, int]]) -> dict[str, int]:
    """Seed vocabulary: every single character (coverage guarantee)
    plus the ``MAX_VOCAB`` most frequent substrings of length
    2..MAX_PIECE_LEN seen at least ``UNIGRAM_MIN_FREQ`` times
    (occurrence-weighted by word frequency), ties to the
    lexicographically smaller piece."""
    counts: dict[str, int] = {}
    for w, f in freq_rows:
        n = len(w)
        for i in range(n):
            for j in range(i + 1, min(i + MAX_PIECE_LEN, n) + 1):
                p = w[i:j]
                counts[p] = counts.get(p, 0) + f
    vocab = {p: c for p, c in counts.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1 and c >= UNIGRAM_MIN_FREQ),
        key=lambda t: (-t[1], t[0]),
    )[:MAX_VOCAB]
    vocab.update(dict(multi))
    return vocab


def viterbi_segment(
    word: str, logp: dict[str, float], max_piece_len: int = MAX_PIECE_LEN
) -> list[str]:
    """Best segmentation under piece log-probs. Deterministic
    tie-break: at equal score the LONGEST candidate piece ending at a
    position wins (smallest start scanned first, strict > replaces).
    Characters absent from the vocabulary segment as themselves at the
    ``_UNK_LOGP`` floor — encode never fails."""
    n = len(word)
    best: list[float] = [0.0] + [float("-inf")] * n
    back: list[int] = [0] * (n + 1)
    for end in range(1, n + 1):
        for start in range(max(0, end - max_piece_len), end):
            piece = word[start:end]
            lp = logp.get(piece)
            if lp is None:
                if end - start == 1:
                    lp = _UNK_LOGP  # unseen character fallback
                else:
                    continue
            cand = best[start] + lp
            if cand > best[end]:
                best[end] = cand
                back[end] = start
    out: list[str] = []
    i = n
    while i > 0:
        out.append(word[back[i]:i])
        i = back[i]
    return out[::-1]


def unigram_train_from_freqs(
    freq_rows: list[tuple[str, int]], iters: int = 4
) -> list[tuple[int, str, int, float]]:
    """SentencePiece-style unigram LM via hard EM over the (word,
    freq) sufficient statistic: E-step = Viterbi-segment every distinct
    word under current piece probs, crediting each used piece with the
    word's corpus frequency; M-step = renormalize. Multi-char pieces
    that win no segmentation are pruned; single characters persist at
    a 0.5 floor (coverage). Deterministic end to end (pure python over
    a sorted word list — the same driver-side-trainer architecture as
    ``bpe_train_from_freqs``; the corpus-sized work stays in Spark).

    Returns [(rank, piece, count, logp)] ordered by (count desc,
    piece), logp rounded to 6 dp.
    """
    import math

    rows = sorted(freq_rows)
    counts = unigram_seed_vocab(rows)
    total = float(sum(counts.values()))
    logp = {p: math.log(c / total) for p, c in counts.items()}
    for _ in range(iters):
        new_counts: dict[str, float] = {}
        for w, f in rows:
            for piece in viterbi_segment(w, logp):
                new_counts[piece] = new_counts.get(piece, 0.0) + f
        # coverage floor: characters never pruned
        for p in counts:
            if len(p) == 1 and new_counts.get(p, 0.0) <= 0.0:
                new_counts[p] = 0.5
        counts = {p: c for p, c in new_counts.items() if c > 0.0}
        total = float(sum(counts.values()))
        logp = {p: math.log(c / total) for p, c in counts.items()}
    ranked = sorted(counts.items(), key=lambda t: (-t[1], t[0]))
    return [
        (ix, p, int(c), round(logp[p], 6))
        for ix, (p, c) in enumerate(ranked)
    ]


def unigram_vocab(
    df: DataFrame,
    text_col: str,
    iters: int = 4,
) -> DataFrame:
    """Distributed wrapper: the (word, freq) aggregation runs in Spark
    (the corpus never reaches the driver); the EM loop runs over the
    collected frequency table. ERRORS when the distinct-word table
    exceeds ``MAX_WORDS``, as ``bpe_merges`` does, rather than silently
    truncating. Returns (rank, piece, count, logp)."""
    pdf = word_freqs(df, text_col).toPandas()  # Arrow batch, not Rows
    if len(pdf) > MAX_WORDS:
        raise ValueError(
            f"unigram_vocab: {len(pdf)} distinct words exceed "
            f"MAX_WORDS={MAX_WORDS}; refusing to truncate"
        )
    model = unigram_train_from_freqs(
        list(zip(pdf["word"], (int(f) for f in pdf["freq"]))), iters
    )
    return df.sparkSession.createDataFrame(
        model, "rank int, piece string, count bigint, logp double"
    )


def unigram_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
) -> DataFrame:
    """Viterbi-tokenize a corpus under a trained unigram vocabulary —
    the same distinct-word architecture as ``bpe_encode``: each
    DISTINCT word is segmented once by an Arrow-batched UDF, joined
    back, and documents reassembled in word order. Returns
    (id, n_pieces, tokens)."""
    vp = vocab.select("piece", "logp").toPandas()
    logp = dict(zip(vp["piece"], (float(x) for x in vp["logp"])))
    # derive the lattice width from the trained vocab: an independent
    # encode-time parameter could silently exclude the vocab's longest
    # pieces from every segmentation
    mpl = max((len(p) for p in logp), default=1)

    @F.pandas_udf("string")
    def encode_udf(words: pd.Series) -> pd.Series:
        return words.map(
            lambda w: " ".join(viterbi_segment(w, logp, mpl))
        )

    return _encode_distinct_words(
        df, id_col, text_col, encode_udf, "n_pieces", "int"
    )
