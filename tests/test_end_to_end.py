"""End-to-end: index the tiny corpus, run kg_query in each mode, and
verify resume semantics (T8/T9)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from graphrag_kb_server_spark.corpus import generate
from graphrag_kb_server_spark.plans.index_pipeline import (
    incremental_docs,
    run_index,
)
from graphrag_kb_server_spark.plans.query_pipeline import (
    GraphTables,
    QueryParams,
    kg_query,
)


@pytest.fixture(scope="module")
def indexed(spark, tmp_out):
    out = f"{tmp_out}/index_e2e"
    pages = generate(spark, 80)
    res = run_index(spark, pages, out)
    return out, res


def test_index_outputs(spark, indexed):
    out, res = indexed
    nodes = spark.read.parquet(f"{out}/nodes")
    edges = spark.read.parquet(f"{out}/edges")
    assert nodes.count() > 20
    assert edges.count() > 20
    # undirected key invariant
    assert edges.where(F.col("src") >= F.col("tgt")).count() == 0
    # every stage reported metrics
    stages = {m["stage"] for m in res.metrics}
    assert {"documents", "chunks", "mentions", "nodes", "edges"} <= stages
    # the LSH bucket stats the driver linking path reports are the row
    # candidate_bucket_stats computes over the same vocabulary
    from graphrag_kb_server_spark.operators.linking import candidate_bucket_stats

    lsh = [m for m in res.metrics if m["stage"] == "canonical_map:lsh_buckets"]
    names = spark.read.parquet(f"{out}/nodes_raw").select("name").distinct()
    assert lsh == [
        {"stage": "canonical_map:lsh_buckets",
         **candidate_bucket_stats(names).first().asDict()}
    ]


def test_kg_query_modes(spark, indexed):
    out, _ = indexed
    g = GraphTables.from_index(spark, out)
    # pick a hub entity that certainly exists
    hub = (
        spark.read.parquet(f"{out}/nodes")
        .orderBy(F.desc("mention_count"))
        .first()["name"]
    )
    for mode in ["local", "global", "hybrid", "mix"]:
        ctx = kg_query(
            spark, g, f"What is the relationship between {hub} and others?",
            # max_entity_tokens: the faithful truncation default drops
            # ALL entities when the first serialized row overflows the
            # budget (reference truncate_list_by_token_size); the
            # reference default of 100 tokens is too small for this
            # fixture's hub descriptions, so give a working budget
            QueryParams(
                mode=mode, top_k=10, max_total_tokens=8000,
                max_entity_tokens=1600,
            ),
        )
        if mode in ("local", "hybrid", "mix"):
            assert ctx.entities, mode
            assert hub in [e["entity"] for e in ctx.entities], mode
        if mode in ("global", "hybrid", "mix"):
            assert ctx.relations, mode
        assert ctx.chunks, mode
        assert ctx.context_str().startswith("-----Entities(KG)-----")
        # token budgets respected: the serialized kept rows fit the
        # entity budget (hybrid/mix round-robin two branches, so the
        # COUNT can exceed top_k — the budget is the real contract)
        import json as _json

        from graphrag_kb_server_spark.tokenizer import count_tokens

        ser = [
            _json.dumps(
                {
                    "entity": e["entity"],
                    "type": e["type"],
                    "description": e["description"],
                }
            )
            for e in ctx.entities
        ]
        assert sum(count_tokens(s) for s in ser) <= 1600
        # Q15 fidelity: every reference carries warc_ts-derived
        # last_modified (lightrag_search.py:826-861)
        assert ctx.references and all(
            r["last_modified"] is not None for r in ctx.references
        ), mode


def test_resume_skips_and_is_identical(spark, indexed, tmp_out):
    out, _ = indexed
    pages = generate(spark, 80)
    nodes_before = spark.read.parquet(f"{out}/nodes").orderBy("name").toPandas()
    res2 = run_index(spark, pages, out)
    assert all(m.get("skipped") for m in res2.metrics)
    # kill-and-resume: delete downstream stages, rerun → identical output
    for stg in ["nodes", "edges", "doc_status"]:
        shutil.rmtree(f"{out}/{stg}")
    res3 = run_index(spark, pages, out)
    redone = {m["stage"] for m in res3.metrics if not m.get("skipped")}
    assert "nodes" in redone and "chunks" not in redone
    nodes_after = spark.read.parquet(f"{out}/nodes").orderBy("name").toPandas()
    import pandas as pd

    pd.testing.assert_frame_equal(nodes_before, nodes_after)


def _table_rows(spark, out, name, keys):
    return spark.read.parquet(f"{out}/{name}").orderBy(*keys).collect()


def test_resume_redoes_only_missing_stages(spark, indexed):
    """Resume is per stage, also for the outputs of one step: with only
    edges_pre gone, only edges_pre is rewritten; with documents and
    chunks (built together from the input pages) gone, both are."""
    out, _ = indexed
    pages = generate(spark, 80)
    keys = {"edges_pre": ["src", "tgt"], "documents": ["url", "doc_id"],
            "chunks": ["chunk_id"], "nodes": ["name"], "edges": ["src", "tgt"]}
    before = {n: _table_rows(spark, out, n, k) for n, k in keys.items()}

    def rerun_without(*names):
        for n in names:
            shutil.rmtree(f"{out}/{n}")
        res = run_index(spark, pages, out)
        return {m["stage"] for m in res.metrics if not m.get("skipped")}

    assert rerun_without("edges_pre") == {"edges_pre"}
    assert rerun_without("chunks") == {"chunks"}
    redo = {"documents", "chunks", "nodes", "edges"}
    assert rerun_without(*redo) == redo
    for n, k in keys.items():
        assert _table_rows(spark, out, n, k) == before[n], n


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_schema_carrying_read_matches_inferring_read(spark, tmp_out, monkeypatch, fmt):
    """A stage read given the written frame's schema returns the schema
    and rows an inferring read returns: a file source read makes every
    field nullable either way."""
    from graphrag_kb_server_spark.plans.index_pipeline import _read_table, _write

    monkeypatch.setenv("KGSPARK_TABLE_FORMAT", fmt)
    df = spark.range(6).select(
        F.col("id"),
        F.lit(1).alias("not_null"),
        F.when(F.col("id") % 2 == 0, F.col("id").cast("string")).alias("s"),
        (F.col("id") / 3).alias("d"),
        F.array(F.col("id").cast("float"), F.lit(0.5).cast("float")).alias("vec"),
        F.array(F.lit("a"), F.col("id").cast("string")).alias("ids"),
        F.timestamp_seconds(F.col("id") * 86400).alias("ts"),
        F.struct(F.col("id").alias("x"), F.lit("y").alias("y")).alias("st"),
    )
    assert not df.schema["not_null"].nullable
    path = f"{tmp_out}/schema_read_{fmt}"
    _write(df, path)
    carried = _read_table(spark, path, df.schema)
    inferred = _read_table(spark, path)
    assert carried.schema == inferred.schema
    assert carried.orderBy("id").collect() == inferred.orderBy("id").collect()
    assert carried.orderBy("id").collect() == df.orderBy("id").collect()


def test_index_job_budget(spark, tmp_out, monkeypatch):
    """A fresh run_index over generate(spark, 40) at 4 shuffle
    partitions runs at most 33 Spark jobs:

    - one write per stage table (14);
    - the stages AQE submits as jobs of their own inside those writes
      (16: chunks 2, mentions 1, nodes_raw 2, edges_raw 2, nodes_pre 2,
      edges_pre 2, nodes 1, edges 1, chunk_embeddings 1, doc_status 2);
    - the canonical_map size probe (2: its distinct and the bounded
      collect);
    - the degree table nodes and edges share (1: finalize_graph's lazy
      localCheckpoint, planned while the pair is built).

    No LSH bucket-stats chain runs (the driver linking path reports the
    stats), and no job runs while a written stage is read back: the
    read carries the written frame's schema, so no parquet
    schema-inference job runs between a write and the next build."""
    from graphrag_kb_server_spark.plans import index_pipeline

    sc = spark.sparkContext
    group = "test_index_job_budget"
    pages = generate(spark, 40)
    jobs = lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    read_jobs = []
    read = index_pipeline._read_table

    def counted_read(spark_, path, schema=None):
        before = jobs()
        df = read(spark_, path, schema)
        read_jobs.append((os.path.basename(path), jobs() - before))
        return df

    monkeypatch.setattr(index_pipeline, "_read_table", counted_read)
    sc.setJobGroup(group, "run_index job budget")
    try:
        run_index(spark, pages, f"{tmp_out}/job_budget")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(read_jobs) == 14
    assert all(n == 0 for _, n in read_jobs), read_jobs
    # every stage write runs on a pool thread, so the writes count here
    # only when those threads inherit the caller's job group
    assert 14 <= jobs() <= 33


def test_incremental_anti_join(spark, indexed):
    out, _ = indexed
    doc_status = spark.read.parquet(f"{out}/doc_status")
    docs = spark.read.parquet(f"{out}/documents")
    assert incremental_docs(docs, doc_status).count() == 0
    # new docs show up
    extra = docs.limit(5).withColumn("doc_id", F.concat(F.lit("new-"), "doc_id"))
    assert incremental_docs(docs.unionByName(extra), doc_status).count() == 5


def test_answer_query_modes_and_q12(spark, indexed, tmp_out):
    from graphrag_kb_server_spark.plans.query_pipeline import answer_query

    out, _ = indexed
    g = GraphTables.from_index(spark, out)
    hub = (
        spark.read.parquet(f"{out}/nodes")
        .orderBy(F.desc("mention_count"))
        .first()["name"]
    )
    q = f"Tell me about {hub}"
    ctx_only = answer_query(
        spark, g, q, QueryParams(mode="hybrid", top_k=8, only_need_context=True),
        cache_path=f"{tmp_out}/cache1",
    )
    assert "-----Entities(KG)-----" in ctx_only["context"]
    assert ctx_only["references"], "reference list populated"
    assert ctx_only["raw_data"]["metadata"]["processing_info"][
        "final_chunks_count"
    ] == len(ctx_only["raw_data"]["data"]["chunks"])
    prompt_only = answer_query(
        spark, g, q, QueryParams(mode="local", top_k=8, only_need_prompt=True),
        cache_path=f"{tmp_out}/cache1",
    )
    # Q17 fidelity: the reference's rag_response system-prompt sections
    # in order, with the response_type/user_prompt slots filled
    # (lightrag_search.py:87-117)
    p = prompt_only["prompt"]
    markers = ["---Role---", "---Goal---",
               "---Knowledge Graph and Document Chunks---",
               "---Response Rules---", "---Question---"]
    pos = [p.index(m) for m in markers]
    assert pos == sorted(pos)
    assert "Target format and length: Multiple Paragraphs" in p
    assert "[KG/DC] file_path" in p
    a1 = answer_query(spark, g, q, QueryParams(mode="local", top_k=8),
                      cache_path=f"{tmp_out}/cache1")
    a2 = answer_query(spark, g, q, QueryParams(mode="local", top_k=8),
                      cache_path=f"{tmp_out}/cache1")
    assert a1["answer"] == a2["answer"]  # Q17 cache
    # Q12 vector chunk pick path
    vec = kg_query(spark, g, q, QueryParams(mode="local", top_k=8, chunk_pick="vector"))
    assert vec.chunks


def test_q16_context_template_shape(spark, indexed):
    """Q16 fidelity: the context string has the reference's four
    template sections in order, JSON-lines payloads with the reference's
    exact row keys (lightrag_search.py:780-785, :822-824, :1166-1200
    post-truncation shapes), and '[id] path (last_modified: iso)'
    reference rows (:846-853)."""
    import json
    import re as _re

    out, _ = indexed
    g = GraphTables.from_index(spark, out)
    hub = (
        spark.read.parquet(f"{out}/nodes")
        .orderBy(F.desc("mention_count"))
        .first()["name"]
    )
    # entity budget: the reference default (100 tokens) faithfully
    # truncates to EMPTY on this fixture's long descriptions
    ctx = kg_query(spark, g, f"Tell me about {hub}",
                   QueryParams(mode="hybrid", top_k=8,
                               max_entity_tokens=1600,
                               max_total_tokens=8000))
    s = ctx.context_str()
    sections = ["-----Entities(KG)-----", "-----Relationships(KG)-----",
                "-----Document Chunks(DC)-----",
                "-----Reference Document List-----"]
    positions = [s.index(sec) for sec in sections]
    assert positions == sorted(positions), "sections in template order"
    # JSON-lines payloads carry exactly the reference's row keys
    ent_block = s[s.index(sections[0]):s.index(sections[1])]
    ent_rows = [json.loads(l) for l in ent_block.splitlines()
                if l.startswith("{")]
    assert ent_rows and all(
        list(r.keys()) == ["entity", "type", "description"] for r in ent_rows
    )
    rel_block = s[s.index(sections[1]):s.index(sections[2])]
    rel_rows = [json.loads(l) for l in rel_block.splitlines()
                if l.startswith("{")]
    assert rel_rows and all(
        list(r.keys()) == ["entity1", "entity2", "description"] for r in rel_rows
    )
    chunk_block = s[s.index(sections[2]):s.index(sections[3])]
    chunk_rows = [json.loads(l) for l in chunk_block.splitlines()
                  if l.startswith("{")]
    assert chunk_rows and all(
        list(r.keys()) == ["reference_id", "content"] for r in chunk_rows
    )
    ref_block = s[s.index(sections[3]):]
    ref_lines = [l for l in ref_block.splitlines() if l.startswith("[")]
    assert ref_lines and all(
        _re.match(r"^\[\d+\] \S+ \(last_modified: .+\)$", l) for l in ref_lines
    )
    # raw_data carries the reference's metadata/processing_info keys
    rd = ctx.raw_data()
    assert set(rd["data"]) == {"entities", "relationships", "chunks"}
    assert set(rd["metadata"]["processing_info"]) == {
        "total_entities_found", "total_relations_found",
        "entities_after_truncation", "relations_after_truncation",
        "merged_chunks_count", "final_chunks_count",
        "available_chunk_tokens",
    }
    assert set(rd["metadata"]["keywords"]) == {"high_level", "low_level"}


def test_hybrid_cross_derivation(spark, indexed):
    """Reference hybrid: entity list includes endpoint entities from the
    relation branch; relation list includes edges incident to top local
    entities (lightrag_search.py:984-1066)."""
    out, _ = indexed
    g = GraphTables.from_index(spark, out)
    hub = (
        spark.read.parquet(f"{out}/nodes")
        .orderBy(F.desc("mention_count"))
        .first()["name"]
    )
    ctx_local = kg_query(spark, g, f"About {hub}",
                         QueryParams(mode="local", top_k=6, max_relation_tokens=800))
    # local mode must now surface relations via one-hop expansion
    assert ctx_local.relations, "local mode derives incident relations"
    ctx_global = kg_query(spark, g, f"About {hub}",
                          QueryParams(mode="global", top_k=6, max_entity_tokens=400))
    assert ctx_global.entities, "global mode derives endpoint entities"


def test_query_composite_matches_sequential_twin(spark):
    """The driver's kg_query_context entry (full 4-stage hybrid query)
    must match golden.golden_kg_query_context — the independent
    sequential pandas twin — row for row (the CI guard behind the
    CORRECTNESS oracle entry)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import __spark_entry__ as entrymod
    from graphrag_kb_server_spark.golden import golden_kg_query_context

    spark_rows = sorted(
        tuple(r) for r in entrymod.queries()["kg_query_context"](spark, "").collect()
    )
    golden_rows = sorted(
        tuple(r) for r in golden_kg_query_context(120).itertuples(index=False)
    )
    assert spark_rows == golden_rows


def test_run_index_orc_format(spark, tmp_out, monkeypatch):
    """The stage-table format seam is genuinely format-parametric: the
    whole pipeline runs, resumes, and reads back through
    KGSPARK_TABLE_FORMAT=orc (the iceberg branch shares the same three
    seam functions — _write/_read_table/_exists — and differs only in
    addressing tables by catalog identifier)."""
    import glob

    from graphrag_kb_server_spark.corpus import generate

    monkeypatch.setenv("KGSPARK_TABLE_FORMAT", "orc")
    out = tmp_out + "/orc_ix"
    pages = generate(spark, 40)
    res = run_index(spark, pages, out)
    assert GraphTables.from_index(spark, out).nodes.count() > 0
    assert glob.glob(out + "/nodes/part-*.orc"), "stage files must be ORC"
    res2 = run_index(spark, pages, out)
    assert all(m.get("skipped") for m in res2.metrics)
