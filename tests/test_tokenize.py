"""BPE tokenizer induction (operators/tokenize.py): merge determinism
under repartitioning, encode round-trip, scale guards, twin parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphrag_kb_server_spark.operators.tokenize import (
    EOW,
    bpe_encode,
    bpe_encode_word,
    bpe_merges,
    bpe_train_from_freqs,
    word_freqs,
)


def _corpus(spark):
    return spark.createDataFrame(
        [
            (1, "low low low lower lower newest newest newest newest"),
            (2, "widest widest newest low"),
            (3, ""),
        ],
        "id int, text string",
    )


def test_word_freqs_counts(spark):
    wf = {r["word"]: r["freq"] for r in word_freqs(_corpus(spark), "text").collect()}
    assert wf == {"low": 4, "lower": 2, "newest": 5, "widest": 2}


def test_bpe_first_merge_is_most_frequent_pair(spark):
    m = bpe_merges(_corpus(spark), "text", num_merges=10).orderBy("rank").collect()
    # 'es' occurs in newest(5) + widest(2) = 7 times — the top pair;
    # ties would break lexicographically, but 7 is unique here
    assert (m[0]["left"], m[0]["right"], m[0]["freq"]) == ("e", "s", 7)
    # every merged symbol is the concatenation of its parts
    assert all(r["merged"] == r["left"] + r["right"] for r in m)


def test_bpe_merges_partitioning_invariant(spark):
    df = _corpus(spark)
    a = bpe_merges(df, "text", 15).orderBy("rank").collect()
    b = bpe_merges(df.repartition(7), "text", 15).orderBy("rank").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_encode_round_trips_the_word():
    merges = bpe_train_from_freqs(
        [("low", 4), ("lower", 2), ("newest", 5), ("widest", 2)], 20
    )
    ranks = {(l, r): k for k, l, r, _m, _f in merges}
    for w in ("low", "lower", "newest", "widest", "unseen", "x"):
        toks = bpe_encode_word(w, ranks)
        assert "".join(toks) == w + EOW  # tokens re-spell the word


def test_bpe_encode_distributed_matches_sequential(spark):
    df = _corpus(spark).where(F.col("text") != "")
    m = bpe_merges(df, "text", 20)
    got = {
        r["id"]: (r["n_tokens"], r["tokens"])
        for r in bpe_encode(df, "id", "text", m).collect()
    }
    ranks = {
        (r["left"], r["right"]): r["rank"] for r in m.collect()
    }
    for rid, text in [(1, "low low low lower lower newest newest newest newest"),
                      (2, "widest widest newest low")]:
        toks = [t for w in text.split() for t in bpe_encode_word(w, ranks)]
        assert got[rid] == (len(toks), " ".join(toks))
    assert 3 not in got  # empty doc has no words


def test_max_words_guard_errors_not_truncates(spark):
    with pytest.raises(ValueError, match="exceed max_words=2"):
        bpe_merges(_corpus(spark), "text", 5, max_words=2)


def test_min_pair_freq_stops_training():
    merges = bpe_train_from_freqs([("ab", 1)], 10)
    assert merges == []  # best pair count 1 < 2 — nothing merged


def test_unigram_viterbi_and_train(spark):
    import math

    from graphrag_kb_server_spark.operators.tokenize import (
        unigram_encode,
        unigram_train_from_freqs,
        unigram_vocab,
        viterbi_segment,
    )

    # hand viterbi: 'abab' with logp favoring 'ab' over chars
    logp = {"a": math.log(0.2), "b": math.log(0.2), "ab": math.log(0.5)}
    assert viterbi_segment("abab", logp) == ["ab", "ab"]
    # unseen char falls back to itself at the floor
    assert viterbi_segment("axb", logp) == ["a", "x", "b"]

    # train: repeated 'lowlow' should promote multi-char pieces
    freqs = [("lowlow", 20), ("low", 10), ("west", 3)]
    model = unigram_train_from_freqs(freqs, iters=3)
    pieces = {p for _, p, _, _ in model}
    assert "low" in pieces or "lowlow" in pieces
    # ranks are (count desc, piece) and logps normalize
    counts = [c for _, _, c, _ in model]
    assert counts == sorted(counts, reverse=True)

    # distributed wrapper + encode round-trip: every word re-joins to
    # its original characters
    docs = spark.createDataFrame(
        [(1, "low low lowlow west west"), (2, "lowest newest")],
        "doc_id long, text string",
    )
    vocab = unigram_vocab(docs, "text", iters=2)
    out = {r.id: r for r in
           unigram_encode(docs, "doc_id", "text", vocab).collect()}
    for did, text in [(1, "low low lowlow west west"), (2, "lowest newest")]:
        rebuilt = out[did].tokens.replace(" ", "")
        assert rebuilt == text.replace(" ", "")
    assert out[1].n_pieces >= 5


def test_encode_reports_wordless_docs(spark):
    """Docs with no words must be reported with count 0, not dropped
    (a silent drop desyncs any row-per-doc oracle)."""
    from graphrag_kb_server_spark.operators.tokenize import (
        bpe_encode,
        bpe_merges,
        unigram_encode,
        unigram_vocab,
    )

    docs = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "   "), (3, "")],
        "doc_id long, text string",
    )
    m = bpe_merges(docs, "text", num_merges=5)
    b = {r.id: r for r in bpe_encode(docs, "doc_id", "text", m).collect()}
    assert set(b) == {1, 2, 3}
    assert b[2].n_tokens == 0 and b[2].tokens == ""
    v = unigram_vocab(docs, "text", iters=2)
    u = {r.id: r for r in
         unigram_encode(docs, "doc_id", "text", v).collect()}
    assert set(u) == {1, 2, 3}
    assert u[3].n_pieces == 0 and u[3].tokens == ""
    assert u[1].n_pieces >= 3
