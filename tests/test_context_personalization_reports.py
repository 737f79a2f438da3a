import datetime as dt

import pytest
from pyspark.sql import functions as F

from graphrag_kb_server_spark.operators.context_ops import (
    LlmCache,
    answer_with_cache,
    compute_args_hash,
    dedup_by_content_combine,
    expand_file_references,
    reference_list,
    vector_similarity_chunk_pick,
)
from graphrag_kb_server_spark.operators.linking import abbreviation_pairs
from graphrag_kb_server_spark.operators.personalization import (
    candidate_entities,
    generate_questions,
    last_modified,
    match_and_score,
    sort_by_relevance,
)
from graphrag_kb_server_spark.operators.reports import community_inputs, generate_reports


def test_q12_vector_chunk_pick(spark):
    from graphrag_kb_server_spark.functions.embedding import embed_text
    import pandas as pd
    import numpy as np

    texts = {"c1": "Alice Johnson acquired Acme", "c2": "totally unrelated words here",
             "c3": "Alice Johnson and Acme Systems again"}
    emb = spark.createDataFrame(
        pd.DataFrame({"chunk_id": list(texts), "embedding": [np.array(embed_text(t)) for t in texts.values()]})
    )
    cands = spark.createDataFrame([(c,) for c in texts], "chunk_id string")
    out = vector_similarity_chunk_pick(cands, emb, "Alice Johnson Acme", n_entities=1)
    rows = out.collect()
    assert {r["chunk_id"] for r in rows} == {"c1", "c3"}  # int(5*1/2) = 2


def test_q15_reference_list_and_q21_expansion(spark):
    chunks = spark.createDataFrame(
        [("a.txt", 0), ("b.txt<SEP>c.txt", 1), ("a.txt", 2)],
        "file_path string, merge_ix int",
    )
    refs = reference_list(chunks)
    assert [(r["ref_ix"], r["file_path"]) for r in refs.orderBy("ref_ix").collect()] == [
        (1, "a.txt"), (2, "b.txt<SEP>c.txt"),
    ]
    expanded = expand_file_references(refs).orderBy("file_path").collect()
    assert {r["file_path"] for r in expanded} == {"a.txt", "b.txt", "c.txt"}


def test_q20_dedup_combine(spark):
    a = spark.createDataFrame([(1, "x", "d1"), (2, "y", "d2")], "id int, content string, extra string")
    b = spark.createDataFrame([(9, "x", "d1"), (3, "z", "d3")], "id int, content string, extra string")
    out = dedup_by_content_combine([a, b], ["content", "extra"]).orderBy("id").collect()
    assert [r["content"] for r in out] == ["x", "y", "z"]
    assert [r["id"] for r in out] == [1, 2, 3]  # ids reassigned


def test_q17_llm_cache(tmp_out):
    cache = LlmCache(f"{tmp_out}/llm_cache")
    h = compute_args_hash("hybrid", "q?", {"k": 1})
    assert cache.get(h) is None
    a1 = answer_with_cache(cache, "hybrid", "q?", {"k": 1}, "ctx")
    a2 = answer_with_cache(cache, "hybrid", "q?", {"k": 1}, "DIFFERENT ctx")
    assert a1 == a2  # cache hit, deterministic
    a3 = answer_with_cache(cache, "local", "q?", {"k": 1}, "ctx")
    assert a3 != a1 or compute_args_hash("local", "q?", {"k": 1}) != h


def test_llm_cache_compaction_bounds_files(tmp_out, monkeypatch):
    """Sustained puts don't grow one-file-per-answer forever: at
    COMPACT_EVERY part-files the cache folds into a single
    last-write-wins file, and reads still see the newest value."""
    monkeypatch.setattr(LlmCache, "COMPACT_EVERY", 4)
    cache = LlmCache(f"{tmp_out}/llm_cache_c")
    for i in range(10):
        cache.put(f"h{i % 3}", f"v{i}")
        assert cache._part_files() <= 4
    assert cache.get("h0") == "v9"  # newest write for h0 (i=9)
    assert cache.get("h1") == "v7"
    assert cache.get("h2") == "v8"
    assert cache.get("missing") is None


def test_llm_cache_crash_recovery(tmp_out):
    """A crash between compact()'s two renames leaves the live path
    absent with the data stranded in __compact (or __old); the next
    reader restores it instead of silently rebuilding empty."""
    import os
    import shutil

    base = f"{tmp_out}/llm_cache_crash"
    cache = LlmCache(base)
    cache.put("k1", "v1")
    cache.put("k2", "v2")
    cache.compact()  # the live dir is a compacted one: it holds _SUCCESS
    # simulate the crash window: live dir renamed aside, compacted dir
    # fully written but not yet swapped in
    shutil.copytree(base, f"{base}__compact")
    os.rename(base, f"{base}__old")
    assert not os.path.exists(base)
    fresh = LlmCache(base)  # __init__ recovery path
    assert fresh.get("k1") == "v1" and fresh.get("k2") == "v2"
    assert not os.path.exists(f"{base}__old")
    # ...and the same for a fresh for_path instance when only __old
    # survives (no _SUCCESS in a partial __compact)
    os.rename(base, f"{base}__old")
    os.makedirs(f"{base}__compact")  # partial: no _SUCCESS
    fresh2 = LlmCache.for_path(base)
    assert fresh2.get("k2") == "v2"
    assert not os.path.exists(f"{base}__compact")


def test_llm_cache_memo_bounded(tmp_out):
    """The for_path memo is LRU-bounded: it keeps at most _MAX_INSTANCES
    loaded dicts, and a path evicted from it reloads its answers from
    disk on the next for_path."""
    LlmCache._instances.clear()
    insts = []
    for i in range(LlmCache._MAX_INSTANCES + 3):
        c = LlmCache.for_path(f"{tmp_out}/memo_{i}")
        c.put("h", f"v{i}")
        assert c.get("h") == f"v{i}"
        insts.append(c)
    assert len(LlmCache._instances) == LlmCache._MAX_INSTANCES
    assert list(LlmCache._instances.values()) == insts[3:]
    # the oldest paths were evicted; a lookup builds a new instance
    # whose dict is reloaded from the path's part files
    for i, c in enumerate(insts[:3]):
        again = LlmCache.for_path(f"{tmp_out}/memo_{i}")
        assert again is not c
        assert again.get("h") == f"v{i}"
    assert len(LlmCache._instances) == LlmCache._MAX_INSTANCES
    # a path still memoized returns the same instance
    last = LlmCache._MAX_INSTANCES + 2
    assert LlmCache.for_path(f"{tmp_out}/memo_{last}") is insts[last]


def test_llm_cache_spark_interop(spark, tmp_out):
    """The on-disk contract: a directory mixing a part appended by
    Spark (the legacy writer) with pyarrow puts reads back as one table
    in Spark and in a fresh LlmCache, newest-wins across both writers;
    a crashed put's hidden temp file is ignored by both; the compacted
    file stays Spark-readable."""
    import os
    import time

    path = f"{tmp_out}/llm_cache_interop"
    spark.createDataFrame(
        [("h_spark", "from spark"), ("h_both", "old from spark")],
        "args_hash string, content string",
    ).withColumn("written_at", F.current_timestamp()).write.mode(
        "append"
    ).parquet(path)
    cache = LlmCache(path)
    # the INT96 part loads as a UTC instant: its written_at is "now"
    assert abs(cache._rows["h_spark"][0] / 1e6 - time.time()) < 600
    cache.put("h_arrow", "from arrow")
    cache.put("h_both", "new from arrow")
    with open(os.path.join(path, ".part-crashed.parquet"), "wb") as f:
        f.write(b"PAR1 torn")  # what a put that crashed mid-write leaves

    def spark_rows():
        df = spark.read.parquet(path)
        assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
            ("args_hash", "string"), ("content", "string"),
            ("written_at", "timestamp"),
        ]
        return df

    df = spark_rows()
    assert sorted((r["args_hash"], r["content"]) for r in df.collect()) == [
        ("h_arrow", "from arrow"), ("h_both", "new from arrow"),
        ("h_both", "old from spark"), ("h_spark", "from spark"),
    ]
    newest = (df.orderBy(F.desc("written_at")).where(F.col("args_hash") == "h_both")
              .first()["content"])
    assert newest == "new from arrow"

    fresh = LlmCache(path)
    assert fresh.get("h_spark") == "from spark"
    assert fresh.get("h_arrow") == "from arrow"
    assert fresh.get("h_both") == "new from arrow"

    fresh.compact()
    assert fresh._part_files() == 1
    assert sorted((r["args_hash"], r["content"]) for r in spark_rows().collect()) == [
        ("h_arrow", "from arrow"), ("h_both", "new from arrow"),
        ("h_spark", "from spark"),
    ]
    assert LlmCache(path).get("h_both") == "new from arrow"


def _centrality(spark):
    return spark.createDataFrame(
        [("Artificial Intelligence", "concept", "desc", 0.9),
         ("AI", "concept", "d", 0.8),
         ("Berlin", "geo", "d", 0.7),
         ("Alice Johnson", "person", "d", 0.6)],
        "entity_id string, entity_type string, description string, centrality double",
    )


def test_p1_p2_p3_p5(spark):
    cand = candidate_entities(_centrality(spark), ["concept", "geo"], limit=3)
    assert [r["entity_id"] for r in cand.collect()] == [
        "Artificial Intelligence", "AI", "Berlin",
    ]
    scored = match_and_score(cand, "profile interested in artificial intelligence berlin")
    names = {r["entity_id"] for r in scored.collect()}
    assert "Berlin" in names
    # P3: the abbreviation channel of canonical_map links "AI" to its
    # expansion, so the two merge into one entity
    pairs = abbreviation_pairs(_centrality(spark).withColumnRenamed("entity_id", "name"))
    assert [tuple(r) for r in pairs.collect()] == [("AI", "Artificial Intelligence")]


def test_p3_single_word_expansion_and_self_survival(spark):
    """Reference initials come from any split(): 'W' abbreviates the
    single word 'Wombat'; a lone single-letter entity is paired with
    nothing (the self-pair is excluded)."""
    ents = spark.createDataFrame([("W",), ("Wombat",)], "name string")
    assert [tuple(r) for r in abbreviation_pairs(ents).collect()] == [("W", "Wombat")]
    alone = spark.createDataFrame([("W",)], "name string")
    assert abbreviation_pairs(alone).collect() == []


def test_p12_last_modified_picks_latest_recrawl(spark):
    pages = spark.createDataFrame(
        [
            ("u1", dt.datetime(2026, 1, 2)),
            ("u1", dt.datetime(2026, 3, 4)),
            ("u1", dt.datetime(2025, 12, 31)),
        ],
        "url string, warc_ts timestamp",
    )
    out = last_modified(pages).collect()
    assert len(out) == 1
    assert out[0]["last_modified"] == dt.datetime(2026, 3, 4)


def test_p6_sort(spark):
    docs = spark.createDataFrame(
        [("a", "low"), ("b", "very_high"), ("c", "medium")],
        "file_path string, relevancy_score string",
    )
    out = [r["file_path"] for r in sort_by_relevance(docs).collect()]
    assert out == ["b", "c", "a"]


def test_p9_p10(spark):
    t = spark.createDataFrame([("Berlin",)], "name string")
    qs = generate_questions(t).first()
    assert len(qs["questions"]) == 3 and "Berlin" in qs["questions"][0]


def test_generate_questions_llm_slot(spark):
    """A caller-supplied ``question_fn`` runs in the Arrow UDF branch,
    once per topic."""
    t = spark.createDataFrame([("Berlin",), ("Lagos",)], "name string")
    out = generate_questions(
        t, question_fn=lambda name: [f"Who runs {name}?", f"Why {name}?"]
    ).collect()
    assert {r["name"]: list(r["questions"]) for r in out} == {
        "Berlin": ["Who runs Berlin?", "Why Berlin?"],
        "Lagos": ["Who runs Lagos?", "Why Lagos?"],
    }


def test_p7_summarize_documents(spark):
    """P7 contract (search_documents.py:94-135): per-doc summary = first
    2 sentences + question digest (pure Catalyst); a custom fn runs
    Arrow-batched."""
    from graphrag_kb_server_spark.operators.personalization import summarize_documents

    docs = spark.createDataFrame(
        [("d1", "One. Two. Three. Four."), ("d2", "Solo sentence")],
        "file_path string, content string",
    )
    out = {r["file_path"]: r["summary"]
           for r in summarize_documents(docs, "profile", "what matters?").collect()}
    assert out["d1"] == "One. Two [re: what matters?]"
    assert out["d2"] == "Solo sentence [re: what matters?]"
    custom = summarize_documents(
        docs, "profile", "q", summarize_fn=lambda c: c[:3].upper()
    )
    assert {r["summary"] for r in custom.collect()} == {"ONE", "SOL"}


def test_p8_topics(spark):
    """P8 (service/topic_generation.py:48-66): centrality desc (ties by
    name), projected to (name, description, type); the type filter and
    the limit are candidate_entities', pinned by test_p1_p2_p3_p5."""
    from graphrag_kb_server_spark.operators.graph_support import topics

    cent = spark.createDataFrame(
        [("B", "concept", "db", 0.9), ("A", "concept", "da", 0.9),
         ("C", "geo", "dc", 0.5), ("D", "person", "dd", 1.0)],
        "entity_id string, entity_type string, description string, centrality double",
    )
    out = topics(cent).collect()
    assert [(r["name"], r["type"]) for r in out] == [
        ("D", "person"), ("A", "concept"), ("B", "concept"), ("C", "geo"),
    ]
    assert set(out[0].asDict()) == {"name", "description", "type"}


def test_p2_custom_fn_arrow_batched(spark):
    """The LLM-slot path of match_and_score (caller-supplied score_fn)
    runs through a pandas_udf and honors the threshold."""
    cand = _centrality(spark)
    out = match_and_score(
        cand, "profile",
        score_fn=lambda name, prof: (0.9 if " " in name else 0.1, "low"),
    )
    names = {r["entity_id"] for r in out.collect()}
    assert names == {"Artificial Intelligence", "Alice Johnson"}
    scored = {r["entity_id"]: r["score"] for r in out.collect()}
    assert all(v == 0.9 for v in scored.values())


def test_p12_last_modified(spark):
    pages = spark.createDataFrame(
        [("u1", dt.datetime(2026, 1, 2))], "url string, warc_ts timestamp"
    )
    out = last_modified(pages).first()
    assert out["file_path"] == "u1" and out["last_modified"].year == 2026


def test_g8_reports(spark):
    asg = spark.createDataFrame(
        [("a", 0, "c0"), ("b", 0, "c0"), ("c", 0, "c1")],
        "node string, level int, cluster string",
    )
    nodes = spark.createDataFrame(
        [("a", "da", 3), ("b", "db", 1), ("c", "dc", 2)],
        "name string, description string, degree int",
    )
    inputs = community_inputs(asg, nodes)
    reports = {r["cluster"]: r for r in generate_reports(inputs).collect()}
    assert reports["c0"]["size"] == 2
    assert reports["c0"]["title"].startswith("Community of")
    assert reports["c1"]["summary"].startswith("dc"[:2])


def test_generate_reports_llm_slot(spark):
    """A caller-supplied ``report_fn`` writes one report row per
    community from that community's prompt payload."""
    asg = spark.createDataFrame(
        [("a", 0, "c0"), ("b", 0, "c0"), ("c", 0, "c1")],
        "node string, level int, cluster string",
    )
    nodes = spark.createDataFrame(
        [("a", "da", 3), ("b", "db", 1), ("c", "dc", 2)],
        "name string, description string, degree int",
    )

    def fake(cluster, member_names, member_descs, size):
        return (f"T-{cluster}", ",".join(member_names + member_descs), size / 2)

    rows = generate_reports(community_inputs(asg, nodes), report_fn=fake).collect()
    assert sorted((r["cluster"], r["level"], r["size"], r["title"],
                   r["summary"], r["rank"]) for r in rows) == [
        ("c0", 0, 2, "T-c0", "a,b,da,db", 1.0),
        ("c1", 0, 1, "T-c1", "c,dc", 0.5),
    ]
