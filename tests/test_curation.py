"""Curation filters: C4 line rules, Gopher repetition, PII redaction,
URL canonicalization, corpus-wide paragraph dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from graphrag_kb_server_spark.operators.curation import (
    c4_line_filter,
    gopher_repetition,
    normalize_url,
    paragraph_dedup,
    redact_pii,
    url_keep,
)


def test_c4_line_filter_rules(spark):
    text = "\n".join(
        [
            "This is a good long sentence.",  # kept
            "short.",  # < 3 words
            "no terminal punctuation here",  # no terminal punct
            "Please enable JavaScript to continue.",  # javascript
            "function f() { return 1; }",  # brace
            'He said "stop".',  # kept (quote-terminal counts via .)
            "Another fine retained line!",  # kept
        ]
    )
    df = spark.createDataFrame([(1, text)], "id int, text string")
    row = c4_line_filter(df, "text").collect()[0]
    assert row.n_lines == 7
    assert row.n_lines_kept == 3
    assert row.c4_text.splitlines() == [
        "This is a good long sentence.",
        'He said "stop".',
        "Another fine retained line!",
    ]
    assert row.c4_keep is False  # doc contains '{'

    clean = text.replace("function f() { return 1; }", "A third clean keeper line.")
    row2 = c4_line_filter(
        spark.createDataFrame([(1, clean)], "id int, text string"), "text"
    ).collect()[0]
    assert row2.n_lines_kept == 4 and row2.c4_keep is True


def test_c4_doc_flags(spark):
    df = spark.createDataFrame(
        [
            (1, "Lorem ipsum dolor sit amet.\nGood line one here.\nGood line two here.\nGood line three here."),
            (2, "Good line one here.\nGood line two here."),  # only 2 kept
        ],
        "id int, text string",
    )
    rows = {r.id: r for r in c4_line_filter(df, "text").collect()}
    assert rows[1].c4_keep is False  # lorem ipsum
    assert rows[2].c4_keep is False  # < 3 kept lines
    assert rows[2].n_lines_kept == 2


def test_gopher_repetition_fractions(spark):
    # 5 lines: 'aaaa.' x3 (len 5), 'bb.' (3), 'cccccc.' (7)
    text = "aaaa.\naaaa.\nbb.\naaaa.\ncccccc."
    df = spark.createDataFrame([(1, text)], "id int, text string")
    row = gopher_repetition(df, "id", "text").collect()[0]
    assert row.n_lines == 5
    assert abs(row.dup_line_frac - 2 / 5) < 1e-9
    assert abs(row.dup_line_char_frac - 10 / 25) < 1e-9


def test_redact_pii(spark):
    text = (
        "Mail bob.smith+x@sub.example.co.uk or admin@host.io, "
        "server 192.168.1.254 up, call +1-555-0042 today; "
        "version 1.2 unaffected, 1.2.3.4.5 has a stray tail."
    )
    df = spark.createDataFrame([(1, text)], "id int, text string")
    row = redact_pii(df, "text").collect()[0]
    assert row.n_emails == 2
    assert row.n_ips == 2  # 192.168.1.254 and the 1.2.3.4 prefix of the tail
    assert row.n_phones == 1
    assert "<EMAIL>" in row.redacted and "<IP>" in row.redacted
    assert "<PHONE>" in row.redacted
    assert "bob.smith" not in row.redacted
    assert "version 1.2 unaffected" in row.redacted  # short version strings kept


def test_normalize_url(spark):
    cases = [
        (
            "HTTPS://User:pw@WWW.Example.COM:443/Path/Page?utm_source=f&b=2&a=1&fbclid=Z#frag",
            "https://www.example.com/Path/Page?a=1&b=2",
        ),
        ("http://Ex.COM:80/x", "http://ex.com/x"),
        ("http://ex.com:8080/x?z=1", "http://ex.com:8080/x?z=1"),
        ("https://ex.com/a?utm_campaign=only", "https://ex.com/a"),
        ("https://ex.com/plain", "https://ex.com/plain"),
    ]
    df = spark.createDataFrame(cases, "url string, expected string")
    bad = df.withColumn("norm", normalize_url(F.col("url"))).where(
        F.col("norm") != F.col("expected")
    )
    assert bad.count() == 0, bad.collect()


def test_url_keep(spark):
    df = spark.createDataFrame(
        [
            ("https://ex.com/article", True),
            ("https://ex.com/img/pic.JPG", False),
            ("https://ex.com/app.js?v=2", False),
            ("ftp://ex.com/file", False),
            ("https://ex.com/data.html", True),
        ],
        "url string, expected boolean",
    )
    got = df.withColumn("keep", url_keep(F.col("url")))
    assert got.where(F.col("keep") != F.col("expected")).count() == 0


def test_paragraph_dedup_first_wins(spark):
    sep = "\n\n"
    df = spark.createDataFrame(
        [
            (1, sep.join(["own one", "SHARED", "footer"])),
            (2, sep.join(["own two", "SHARED", "footer"])),
            (3, sep.join(["SHARED", "footer"])),
        ],
        "id int, text string",
    )
    rows = {r.id: r for r in paragraph_dedup(df, "id", "text").collect()}
    assert rows[1].text == sep.join(["own one", "SHARED", "footer"])
    assert rows[2].text == "own two"
    assert rows[2].n_paras == 3 and rows[2].n_paras_kept == 1
    assert rows[3].text == ""  # every paragraph seen earlier
    assert rows[3].n_paras_kept == 0


def test_url_keep_path_only_extension(spark):
    """The binary-extension rule reads the PATH component only: a
    path-less .zip-TLD host and a query-string '.mp4' are kept."""
    from graphrag_kb_server_spark.operators.curation import url_keep

    df = spark.createDataFrame(
        [
            ("https://update.zip", True),
            ("https://ex.com/download?file=x.mp4", True),
            ("https://ex.com/v.mp4?sig=1", False),
            ("https://ex.com/a/b/clip.MP4#t=5", False),
        ],
        "url string, expected boolean",
    )
    got = df.withColumn("keep", url_keep(F.col("url")))
    assert got.where(F.col("keep") != F.col("expected")).count() == 0


def test_paragraph_dedup_position_order_preserved(spark):
    df = spark.createDataFrame(
        [(1, "b\n\na\n\nc"), (2, "z\n\na")],
        "id int, text string",
    )
    rows = {r.id: r for r in paragraph_dedup(df, "id", "text").collect()}
    assert rows[1].text == "b\n\na\n\nc"  # original order, not sorted text
    assert rows[2].text == "z"


def test_word_ngrams_tokenizer_and_short_text(spark):
    from graphrag_kb_server_spark.operators.curation import word_ngrams

    df = spark.createDataFrame(
        [(1, "The cat, the CAT sat!"), (2, "too short")],
        "id int, text string",
    )
    rows = {
        r.id: r.g
        for r in df.select("id", word_ngrams(F.col("text"), 3).alias("g"))
        .collect()
    }
    # punctuation/case-insensitive tokens: the cat the cat sat
    assert rows[1] == ["the cat the", "cat the cat", "the cat sat"]
    assert rows[2] == []  # fewer than n tokens -> empty, not null


def test_ngram_decontaminate_flags_verbatim_inclusion(spark):
    from graphrag_kb_server_spark.operators.curation import (
        ngram_decontaminate,
    )

    bench = spark.createDataFrame(
        [("alpha beta gamma delta epsilon",)], "bt string"
    )
    docs = spark.createDataFrame(
        [
            # contains the excerpt verbatim (modulo case/punct) -> both
            # 4-grams of the 5-token benchmark text hit
            (1, "Intro words. ALPHA beta, gamma delta epsilon. Outro."),
            # shares only a 3-token run -> clean at n=4
            (2, "beta gamma delta elsewhere entirely different words"),
            (3, "no overlap at all in this one"),
        ],
        "doc_id int, text string",
    )
    rows = {
        r.doc_id: r
        for r in ngram_decontaminate(
            docs, bench, "doc_id", "text", "bt", n=4
        ).collect()
    }
    assert rows[1].contaminated and rows[1].overlap_ngrams == 2
    assert not rows[2].contaminated and rows[2].overlap_ngrams == 0
    assert not rows[3].contaminated
    assert len(rows) == 3  # every input doc gets a row


def test_repetition_signal_cols_match_gopher(spark):
    """The row-local HOF variant must produce the same fractions as the
    explode+agg form on every doc (incl. heavy repeats and no repeats)."""
    from graphrag_kb_server_spark.operators.curation import (
        gopher_repetition,
        repetition_signal_cols,
    )

    docs = spark.createDataFrame(
        [
            (1, "a one.\nb two.\na one.\nc three.\na one."),
            (2, "all.\ndistinct.\nlines.\nhere."),
            (3, "x.\nx.\nx.\nx."),
            (4, "single line only."),
        ],
        "doc_id int, text string",
    )
    hof = docs.withColumn("_u", F.split("text", "\n"))
    for name, col in repetition_signal_cols(F.col("_u")).items():
        hof = hof.withColumn(name, col)
    got = {
        r["doc_id"]: (r["n_lines"], r["dup_line_frac"], r["dup_line_char_frac"])
        for r in hof.collect()
    }
    want = {
        r["doc_id"]: (r["n_lines"], r["dup_line_frac"], r["dup_line_char_frac"])
        for r in gopher_repetition(docs, "doc_id", "text").collect()
    }
    assert got == want


def test_curate_corpus_funnel(spark):
    from graphrag_kb_server_spark.plans.curation_pipeline import curate_corpus

    docs = spark.createDataFrame(
        [
            (1, "The quick brown fox jumps over the lazy dog today.\n"
                "It is a fine day for the dog and the fox.\n"
                "The end of the story is here with the dog."),
            (2, "repeat me now and then.\nrepeat me now and then.\n"
                "repeat me now and then.\nrepeat me now and then.\n"
                "The only unique line is this one right here."),
            (3, "Enable javascript to continue.\ntiny.\n{ code }"),
            (4, "The quick brown fox jumps over the lazy dog today.\n"
                "It is a fine day for the dog and the fox.\n"
                "The end of the story is here with the dog."),
            (5, "Contact me at bob@example.com for all of the details today.\n"
                "The server of the company is at 10.0.0.1 for all of it.\n"
                "This is the third good line of the document for the test."),
        ],
        "doc_id int, text string",
    )
    kept, stats = curate_corpus(docs)
    s = stats.collect()[0]
    # 3 fails C4, 2 fails repetition, 1+4 dedup into one
    assert (s["n_docs"], s["n_c4"], s["n_rep"], s["n_kept"]) == (5, 4, 3, 2)
    rows = {r["doc_id"]: r for r in kept.collect()}
    assert set(rows) == {1, 5}
    assert rows[1]["dup_group_size"] == 2
    assert rows[5]["n_emails"] == 1 and rows[5]["n_ips"] == 1
    assert "<EMAIL>" in rows[5]["text"] and "bob@" not in rows[5]["text"]
    # every language is kept: the language stage passes all survivors
    assert s["n_lang"] == s["n_quality"]


def test_hot_ngrams_and_boilerplate_frac(spark):
    """doc_freq counts DISTINCT documents (in-doc repeats don't
    inflate it); the boilerplate fraction is position-weighted."""
    from graphrag_kb_server_spark.operators.curation import (
        boilerplate_ngram_stats,
        hot_ngrams,
    )

    slogan = "buy our product now"
    docs = spark.createDataFrame(
        [
            (1, f"{slogan} {slogan} unrelated tail words here"),
            (2, f"intro words then {slogan} closing"),
            (3, f"{slogan}"),
            (4, "completely different text with no repeats at all"),
            (5, "xy"),  # < n tokens
        ],
        "doc_id int, text string",
    )
    hot = {r["g"]: r["doc_freq"]
           for r in hot_ngrams(docs, "text", n=4, min_doc_freq=3).collect()}
    # the slogan 4-gram is in docs 1,2,3 — doc 1's repeat adds nothing
    assert hot["buy our product now"] == 3
    assert all(df >= 3 for df in hot.values())

    stats = {
        r["doc_id"]: r
        for r in boilerplate_ngram_stats(
            docs, "doc_id", "text", n=4, min_doc_freq=3
        ).collect()
    }
    assert set(stats) == {1, 2, 3, 4, 5}
    # doc 1: 12 tokens → 9 positions; slogan occurs at 2 positions
    r1 = stats[1]
    assert (r1["n_ngrams"], r1["hot_ngrams"]) == (9, 2)
    assert stats[3]["boilerplate_frac"] == 1.0
    assert stats[4]["hot_ngrams"] == 0
    assert (stats[5]["n_ngrams"], stats[5]["boilerplate_frac"]) == (0, 0.0)


def test_duplicate_spans(spark):
    """A 60-char span shared by three docs is detected; unique text is
    not; site exemplars are the lexicographic min/max doc:pos."""
    from graphrag_kb_server_spark.operators.curation import (
        duplicate_spans,
    )

    shared = ("this exact boilerplate sentence repeats verbatim "
              "across documents")
    docs = spark.createDataFrame(
        [
            (1, "prefix one " + shared + " tail a"),
            (2, shared + " different tail entirely"),
            (3, "another lead-in text " + shared),
            (4, "totally unique content with no repetition anywhere"),
        ],
        "doc_id long, text string",
    )
    out = duplicate_spans(docs, "doc_id", "text", span_len=40,
                          sample_mod=2).collect()
    assert out, "shared span must produce at least one detection"
    docs_hit = set()
    for r in out:
        assert r.n_docs >= 2
        docs_hit.add(r.first_site.split(":")[0])
        docs_hit.add(r.last_site.split(":")[0])
    assert docs_hit <= {"1", "2", "3"}
    assert len(docs_hit) >= 2
