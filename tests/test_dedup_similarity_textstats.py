import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from graphrag_kb_server_spark.functions.embedding import embed_udf
from graphrag_kb_server_spark.operators.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_dedup_pairs,
)
from graphrag_kb_server_spark.operators.linking import (
    abbreviation_pairs,
    candidate_pairs,
    canonical_map,
)
from graphrag_kb_server_spark.operators.similarity import (
    brute_force_topk_batch,
    ivf_topk_batch,
)
from graphrag_kb_server_spark.operators.textstats import (
    bpe_ish_token_count,
    extract_links,
    language_id,
    quality_features,
)

BASE = "the quick brown fox jumps over the lazy dog and runs far away today"
NEAR = "the quick brown fox jumps over the lazy dog and runs far away now"
OTHER = "completely different content about spark shuffle partitions and joins here"


def _docs(spark):
    rows = [(1, BASE), (2, BASE), (3, NEAR), (4, OTHER)]
    return spark.createDataFrame(rows, "id long, text string")


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark), "text", "id").orderBy("id").collect()
    assert [r["id"] for r in out] == [1, 3, 4]
    assert out[0]["dup_group_size"] == 2


def test_minhash_lsh_finds_near_dup(spark):
    pairs = minhash_lsh_pairs(_docs(spark), "text", "id").collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got  # exact dup always collides
    assert (1, 3) in got or (2, 3) in got  # near dup shares most shingles
    assert (1, 4) not in got
    kept = minhash_lsh_dedup(_docs(spark), "text", "id").orderBy("id").collect()
    assert [r["id"] for r in kept] == [1, 4]


def test_simhash_pairs(spark):
    pairs = simhash_dedup_pairs(_docs(spark), "text", "id").collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got
    assert all(p != (1, 4) and p != (2, 4) for p in got)


def test_ngram_jaccard(spark):
    pairs = ngram_jaccard_pairs(_docs(spark), "text", "id", threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and got[(1, 3)] >= 0.5
    assert (1, 4) not in got


def test_mega_bucket_split_not_dropped(spark):
    """LSH skew guard: a bucket over LSH_MAX_BUCKET is SPLIT into
    hash-derived sub-buckets — members still pair within sub-buckets
    (the old count-and-drop silently lost every duplicate in a
    mega-bucket), the pair set matches the md5-prefix-mod mirror
    exactly, and the oversize is reported by the stats helper."""
    import hashlib

    from graphrag_kb_server_spark.functions import hashing as H
    from graphrag_kb_server_spark.operators.dedup import (
        BANDS,
        LSH_MAX_BUCKET,
        NUM_HASHES,
        oversized_bucket_stats,
    )

    # n identical docs: every band bucket has n > LSH_MAX_BUCKET members
    n = LSH_MAX_BUCKET + 44
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(n)]
    docs = spark.createDataFrame(rows, "id int, text string")
    pairs = minhash_lsh_pairs(docs, "text", "id").collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got, "mega-bucket produced pairs instead of being dropped"
    # the split is the documented hash-mod scheme: nsub = ceil(n/cap) = 2,
    # sub(id) = int(md5(str(id))[:8], 16) % 2 — identical docs share every
    # band key, so the pair set is exactly the within-sub-bucket pairs
    sub = {
        i: int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 2
        for i in range(n)
    }
    expected = {
        (a, b) for a in range(n) for b in range(a + 1, n) if sub[a] == sub[b]
    }
    assert got == expected
    # and the skew is visible in metrics
    b = H.minhash_bands(
        docs, "id", H.word_shingles(F.lower(F.col("text")), 3), NUM_HASHES, BANDS
    )
    stats = oversized_bucket_stats(b, "band", LSH_MAX_BUCKET).first()
    assert stats["n_oversized"] >= 1 and stats["max_size"] == n


def test_simhash_multipermutation_rotations(spark):
    """The rotated-prefix index finds exactly the pairs within the
    hamming bound that share the prefix of at least one of its
    SIMHASH_ROTATIONS nibble-rotations, among them a near-dup pair
    whose LEADING prefixes differ (one a single-prefix block misses)."""
    from graphrag_kb_server_spark.functions import hashing as H
    from graphrag_kb_server_spark.operators.dedup import SIMHASH_ROTATIONS

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    candidates = [base.replace("alpha", w) for w in
                  ["alphas", "alphax", "alpba", "aloha", "alpho", "halpa"]]
    docs = spark.createDataFrame(
        [(0, base)] + [(i + 1, c) for i, c in enumerate(candidates)],
        "id int, text string",
    )
    got = {(r["id_a"], r["id_b"]) for r in simhash_dedup_pairs(
        docs, "text", "id", prefix_nibbles=4, max_hamming_nibbles=6
    ).collect()}
    sims = {r["id"]: r["sim"] for r in docs.select(
        "id", H.simhash64(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("sim")
    ).collect()}
    step = 16 // SIMHASH_ROTATIONS

    def blocks(h):
        return {(r, (h[r * step:] + h[:r * step])[:4]) for r in range(SIMHASH_ROTATIONS)}

    want = {
        (a, b) for a in sims for b in sims
        if a < b and blocks(sims[a]) & blocks(sims[b])
        and sum(x != y for x, y in zip(sims[a], sims[b])) <= 6
    }
    assert got == want
    assert any(sims[a][:4] != sims[b][:4] for a, b in got), (
        "expected at least one near-dup pair visible only under rotation"
    )


def test_embedding_near_dup(spark):
    docs = _docs(spark).withColumn("vec", embed_udf(F.col("text")))
    out = embedding_near_dup_pairs(docs, "id", "vec", threshold=0.9).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 2) in got
    assert (1, 4) not in got


def test_linking_candidates_and_canonical(spark):
    nodes = spark.createDataFrame(
        [("Artificial Intelligence",), ("AI",), ("Artificial Inteligence",), ("Berlin",)],
        "name string",
    )
    ab = abbreviation_pairs(nodes).collect()
    assert {(r["name_a"], r["name_b"]) for r in ab} == {
        ("AI", "Artificial Intelligence"),
        ("AI", "Artificial Inteligence"),  # the typo variant shares initials
    }
    cp = candidate_pairs(nodes).collect()
    got = {tuple(sorted((r["name_a"], r["name_b"]))) for r in cp}
    assert ("Artificial Inteligence", "Artificial Intelligence") in got
    m = {
        r["name"]: r["canonical_name"]
        for r in canonical_map(nodes).collect()
    }
    assert m["AI"] == m["Artificial Intelligence"] == m["Artificial Inteligence"]
    assert m["Berlin"] == "Berlin"


def _emb_table(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((50, 8)).astype("float32")
    pdf = pd.DataFrame({"vec_id": range(50), "embedding": list(vecs)})
    return spark.createDataFrame(pdf), vecs


def test_brute_force_topk_batch_exact(spark):
    table, vecs = _emb_table(spark)
    queries = table.limit(3).select(F.col("vec_id").alias("qid"), "embedding")
    out = brute_force_topk_batch(table, queries, 5, "vec_id", "qid").collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["id"], r["score"]))
    for qid, rows in by_q.items():
        rows.sort()
        assert rows[0][1] == qid and abs(rows[0][2] - 1.0) < 1e-9
        # verify vs numpy
        q = vecs[qid] / np.linalg.norm(vecs[qid])
        sims = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)) @ q
        exp = np.argsort(-sims)[:5]
        assert [r[1] for r in rows] == list(exp)


def test_ivf_topk_self_hit(spark):
    table, _ = _emb_table(spark)
    queries = table.limit(5).select(F.col("vec_id").alias("qid"), "embedding")
    out = ivf_topk_batch(table, queries, 3, "vec_id", "qid", n_planes=3).collect()
    firsts = {r["qid"]: r["id"] for r in out if r["rank"] == 1}
    assert all(firsts[q] == q for q in firsts)  # self always in own cell


def test_textstats(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog walk to the park in the morning",),
            ("der hund und die katze sind nicht mit der maus",),
            ("le chat est dans la maison pour une nuit",),
            ("!!!???...",),
        ],
        "text string",
    )
    langs = [r["l"] for r in df.select(language_id(F.col("text")).alias("l")).collect()]
    assert langs[0] == "en" and langs[1] == "de" and langs[2] == "fr" and langs[3] == "und"
    q = quality_features(df, "text").collect()
    assert q[0]["quality_score"] > q[3]["quality_score"]
    toks = df.select(bpe_ish_token_count(F.col("text")).alias("n")).first()["n"]
    assert toks == 12
    links = spark.createDataFrame(
        [("see https://a.example/x. and http://b.example/y), done",)], "t string"
    ).select(extract_links(F.col("t")).alias("u")).first()["u"]
    assert links == ["https://a.example/x", "http://b.example/y"]


def test_ivf_multi_probe_recall_dominates(spark):
    """probe_bits=1 searches the query's cell plus every one-bit-
    flipped cell: per-query best score is >= the single-cell best, and
    at least one query sees a strictly better candidate set on random
    data (neighbours straddling one hyperplane become visible)."""
    table, _ = _emb_table(spark)
    queries = table.limit(8).select(F.col("vec_id").alias("qid"), "embedding")

    def best(df):
        return {r["qid"]: r["score"] for r in df.collect() if r["rank"] == 1}

    plain = best(ivf_topk_batch(table, queries, 3, "vec_id", "qid", n_planes=4))
    probed = best(
        ivf_topk_batch(table, queries, 3, "vec_id", "qid", n_planes=4, probe_bits=1)
    )
    assert set(plain) <= set(probed)  # probing never loses a query
    for qid, s in plain.items():
        assert probed[qid] >= s - 1e-9
    # candidate coverage strictly grows somewhere on 50 random vectors
    n_plain = ivf_topk_batch(table, queries, 50, "vec_id", "qid", n_planes=4).count()
    n_probe = ivf_topk_batch(
        table, queries, 50, "vec_id", "qid", n_planes=4, probe_bits=1
    ).count()
    assert n_probe > n_plain


def test_language_id_web_scale_cascade(spark):
    """The two-stage language-ID cascade: dominant non-Latin script →
    Unicode-block language (with the Han+kana→Japanese rule); Latin
    text → stopword markers across all 12 supported languages."""
    from pyspark.sql import functions as F

    from graphrag_kb_server_spark.operators.textstats import language_id

    samples = [
        ("zh", "这是一个关于知识图谱的中文文档，包含许多汉字。"),
        ("ja", "これは日本語のドキュメントです。漢字とかなが混ざっています。"),
        ("ko", "이것은 한국어 문서입니다. 지식 그래프에 관한 내용입니다."),
        ("ru", "Это документ на русском языке о графах знаний."),
        ("ar", "هذه وثيقة باللغة العربية حول الرسوم البيانية المعرفية."),
        ("hi", "यह ज्ञान ग्राफ के बारे में एक हिंदी दस्तावेज़ है।"),
        ("el", "Αυτό είναι ένα ελληνικό έγγραφο σχετικά με γράφους γνώσης."),
        ("pt", "Este documento não é uma página com mais informações como dos outros."),
        ("it", "Questo è il documento che descrive la rete per gli utenti, sono anche del tipo."),
        ("nl", "Dit is het document van een netwerk, niet met voor zijn ook."),
        ("pl", "To nie jest dokument, że się przez oraz tego."),
        ("sv", "Detta är och att det som på av inte dokumentet."),
        ("tr", "Bu bir belge ve bu için ile olarak daha gibi."),
        ("id", "Ini yang dan di untuk dengan ini tidak pada dokumen."),
        ("ro", "Acesta este documentul și pentru care sunt din mai să."),
        ("en", "This is the document and of the knowledge graph with info for you."),
        ("und", "12345 67890 !!! ???"),
    ]
    df = spark.createDataFrame(samples, "expected string, text string")
    rows = df.select(
        "expected", language_id(F.col("text")).alias("got")
    ).collect()
    misses = [(r["expected"], r["got"]) for r in rows if r["expected"] != r["got"]]
    assert not misses, misses


def test_tfidf_top_terms(spark):
    """Rare terms outrank common ones; ties break on the term string;
    k bounds rows per doc."""
    from graphrag_kb_server_spark.operators.textstats import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common common common"),
            (2, "banana cherry common common"),
            (3, "common words only common"),
        ],
        "doc_id int, text string",
    )
    out = tfidf_top_terms(docs, "doc_id", "text", k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert all(len(v) <= 2 for v in by_doc.values())
    # doc 1: apple (tf=2, df=1) is the clear winner over common (df=3)
    top1 = sorted(by_doc[1], key=lambda r: r["term_rank"])
    assert top1[0]["term"] == "apple"
    assert (top1[0]["tf"], top1[0]["df"]) == (2, 1)
    # doc 2: common wins on tf=2 (smoothed idf keeps universal terms
    # alive — 2·(ln(4/4)+1)=2.0); cherry's rarity (df=1, 1.693) is 2nd
    top2 = sorted(by_doc[2], key=lambda r: r["term_rank"])
    assert [r["term"] for r in top2] == ["common", "cherry"]
    # scores decrease with rank everywhere
    for rows in by_doc.values():
        rows = sorted(rows, key=lambda r: r["term_rank"])
        assert all(
            rows[i]["tfidf"] >= rows[i + 1]["tfidf"]
            for i in range(len(rows) - 1)
        )


def test_minhash_dedup_winner_rule(spark):
    """order_col picks the keeper: with -length the longest member of
    each near-dup component survives (tie -> min id)."""
    from pyspark.sql import functions as F

    from graphrag_kb_server_spark.operators.dedup import minhash_lsh_dedup

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight")
    rows = [
        (1, base),
        (2, base + " extended with extra trailing words here"),  # longest
        (3, "completely different text about spark catalyst engines "
            "and distributed shuffle joins at massive scale"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    default = {r.doc_id for r in
               minhash_lsh_dedup(docs, "text", "doc_id")
               .select("doc_id").collect()}
    winner = {r.doc_id for r in
              minhash_lsh_dedup(
                  docs.withColumn("_neg_len", -F.length("text")),
                  "text", "doc_id", order_col="_neg_len")
              .select("doc_id").collect()}
    assert default == {1, 3}   # min id kept
    assert winner == {2, 3}    # longest kept


def test_iqr_outlier_filter(spark):
    """Per-group fences: the same value survives in a wide group and
    is cut in a tight one; bounds surfaced for audit."""
    from graphrag_kb_server_spark.operators.textstats import (
        iqr_outlier_filter,
    )

    rows = [("tight", float(v)) for v in
            [100, 101, 102, 103, 104, 105, 106, 107]]
    rows += [("tight", 500.0)]          # extreme in the tight group
    rows += [("wide", float(v)) for v in
             [100, 200, 300, 400, 500, 600, 700, 800]]
    df = spark.createDataFrame(rows, "grp string, v double")
    out = iqr_outlier_filter(df, "grp", "v", k=1.5)
    kept = {(r.grp, r.v) for r in out.collect()}
    assert ("tight", 500.0) not in kept
    assert ("wide", 500.0) in kept
    assert len([1 for g, _ in kept if g == "tight"]) == 8
    bounds = {r.grp: (r.lo, r.hi) for r in out.collect()}
    assert bounds["tight"][1] < 500 < bounds["wide"][1]
