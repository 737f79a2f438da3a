import pandas as pd
import pytest
from pyspark.sql import functions as F

from graphrag_kb_server_spark.operators.merge import rank_branch, round_robin_merge
from graphrag_kb_server_spark.operators.truncation import (
    cumulative_prefix_by_budget,
    truncate_by_token_budget,
)
from graphrag_kb_server_spark.operators.vector_topk import cosine_topk


def test_round_robin_merge_matches_sequential(spark):
    # reference semantics: interleave position-wise, first occurrence wins
    local = spark.createDataFrame(
        [("A", 0.9), ("B", 0.8), ("C", 0.7)], "name string, score double"
    )
    glob = spark.createDataFrame(
        [("B", 0.95), ("D", 0.85), ("A", 0.75)], "name string, score double"
    )
    b0 = rank_branch(local, [F.desc("score"), "name"], 0)
    b1 = rank_branch(glob, [F.desc("score"), "name"], 1)
    out = round_robin_merge([b0, b1], ["name"]).orderBy("merge_ix").collect()
    # sequential interleave: A(l0) B(g0) B(l1,dup) D(g1) C(l2) A(g2,dup)
    assert [r["name"] for r in out] == ["A", "B", "D", "C"]
    assert [r["merge_ix"] for r in out] == [0, 1, 2, 3]


def test_token_truncation_prefix(spark):
    rows = [(i, "word " * 10) for i in range(10)]  # ~10-11 tokens each
    df = spark.createDataFrame(rows, "pos int, txt string")
    out = truncate_by_token_budget(df, "txt", "pos", budget=35).collect()
    assert [r["pos"] for r in out] == [0, 1, 2]
    # faithful to the reference: an over-budget FIRST row yields an
    # EMPTY result (truncate_list_by_token_size returns list[:0])
    out1 = truncate_by_token_budget(df, "txt", "pos", budget=3).collect()
    assert out1 == []


def test_cumulative_prefix_by_budget(spark):
    df = spark.createDataFrame([(1, 5.0), (2, 5.0), (3, 5.0)], "pos int, w double")
    out = cumulative_prefix_by_budget(df, "w", "pos", 10.0).collect()
    assert [r["pos"] for r in out] == [1, 2]


def test_cosine_topk_exact(spark):
    import numpy as np

    rows = [
        ("a", [1.0, 0.0, 0.0]),
        ("b", [0.9, 0.1, 0.0]),
        ("c", [0.0, 1.0, 0.0]),
        ("d", [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"id": [r[0] for r in rows],
                      "embedding": [np.array(r[1], dtype="float32") for r in rows]})
    )
    out = cosine_topk(df, [1.0, 0.0, 0.0], 2).collect()
    assert [r["id"] for r in out] == ["a", "b"]
    assert abs(out[0]["score"] - 1.0) < 1e-9
    # self-exclusion path
    out2 = cosine_topk(df, [1.0, 0.0, 0.0], 2, exclude_key=("id", "a")).collect()
    assert [r["id"] for r in out2] == ["b", "c"]


def _mini_graph(spark):
    """Hand-built GraphTables: one entity whose chunk has a <SEP>-joined
    multi-file file_path (the Q21 expansion case)."""
    from graphrag_kb_server_spark import GRAPH_FIELD_SEP
    from graphrag_kb_server_spark.functions.embedding import embed_text
    from graphrag_kb_server_spark.plans.query_pipeline import GraphTables

    def emb(t):
        return [float(x) for x in embed_text(t)]

    nodes = spark.createDataFrame(
        [("Alpha", "org", "alpha org", 1, ["c1"]),
         ("Beta", "org", "beta org", 1, ["c1"])],
        "name string, type string, description string, degree int, "
        "source_chunk_ids array<string>",
    )
    edges = spark.createDataFrame(
        [("Alpha", "Beta", "works", "alpha-beta", 1.0, 2, ["c1"])],
        "src string, tgt string, keywords string, description string, "
        "weight double, combined_degree bigint, source_chunk_ids array<string>",
    )
    multi = f"a.txt{GRAPH_FIELD_SEP}b.txt"
    chunks = spark.createDataFrame(
        [("c1", "alpha and beta work together", multi)],
        "chunk_id string, content string, file_path string",
    )
    g = GraphTables(
        nodes=nodes,
        edges=edges,
        chunks=chunks,
        entity_embeddings=spark.createDataFrame(
            [("Alpha", emb("Alpha\nalpha org")), ("Beta", emb("Beta\nbeta org"))],
            "name string, embedding array<float>",
        ),
        relation_embeddings=spark.createDataFrame(
            [("Alpha", "Beta", emb("Alpha\tBeta"))],
            "src string, tgt string, embedding array<float>",
        ),
        chunk_embeddings=spark.createDataFrame(
            [("c1", emb("alpha and beta work together"))],
            "chunk_id string, embedding array<float>",
        ),
    )
    return g


def test_answer_query_llm_slot(spark, tmp_path):
    """A caller-supplied ``llm_fn`` gets the rag_response prompt and its
    answer comes back, post-cleaned, from answer_query."""
    from graphrag_kb_server_spark.plans.query_pipeline import (
        QueryParams, answer_query,
    )

    prompts = []

    def fake(prompt):
        prompts.append(prompt)
        return " fake answer <|im_end|>"

    out = answer_query(spark, _mini_graph(spark), "Alpha",
                       QueryParams(mode="local"),
                       cache_path=str(tmp_path / "cache"), llm_fn=fake)
    assert out["answer"] == "fake answer"
    (prompt,) = prompts
    assert "---Role---" in prompt and prompt.endswith("---Question---\nAlpha\n")


def test_kg_query_user_keywords(spark):
    """User-supplied keywords join the query's own: high-level, next to
    the tf-ranked terms; the capitalized spans stay low-level."""
    from graphrag_kb_server_spark.plans.query_pipeline import (
        QueryParams, kg_query,
    )

    ctx = kg_query(spark, _mini_graph(spark), "Alpha", QueryParams(mode="hybrid"),
                   user_keywords=["partnership"])
    assert ctx.keywords == ["Alpha", "alpha", "partnership"]
    assert ctx.keywords_hl == ["alpha", "partnership"]
    assert ctx.keywords_ll == ["Alpha"]


def test_sep_joined_chunk_gets_real_reference_id(spark):
    """Regression (ADVICE r2): a chunk whose file_path is a <SEP>-joined
    multi-file string must cite the min expanded ref_ix, not dangle at
    reference_id 0."""
    from graphrag_kb_server_spark.plans.query_pipeline import (
        QueryParams, kg_query,
    )

    g = _mini_graph(spark)
    ctx = kg_query(spark, g, "Alpha", QueryParams(mode="hybrid", top_k=5))
    assert ctx.chunks, "chunk survives"
    ref_ids = {r["reference_id"] for r in ctx.references}
    assert ctx.chunks[0]["reference_id"] in ref_ids
    assert ctx.chunks[0]["reference_id"] != 0
    # both expanded paths are listed
    assert {r["file_path"] for r in ctx.references} == {"a.txt", "b.txt"}


def test_q14_budget_tracks_actual_usage(spark):
    """Q14 regression (VERDICT r2 #4): the chunk budget must follow the
    reference formula — max_total − tokens(sys scaffold) − tokens(kg
    context actually kept) − tokens(query) − 200 — so it tightens when
    the user_prompt grows and when more entity/relation tokens are kept."""
    from graphrag_kb_server_spark.operators.context_ops import build_rag_prompt
    from graphrag_kb_server_spark.plans.query_pipeline import (
        KG_QUERY_CONTEXT_TEMPLATE, QueryParams, _json_lines, kg_query,
    )
    from graphrag_kb_server_spark.tokenizer import count_tokens

    g = _mini_graph(spark)
    query = "Alpha"
    p1 = QueryParams(mode="hybrid", top_k=5, max_total_tokens=4000)
    ctx1 = kg_query(spark, g, query, p1)
    b1 = ctx1.processing_info["available_chunk_tokens"]
    # exact formula reproduction from the kept context
    pre_kg = KG_QUERY_CONTEXT_TEMPLATE.format(
        entities_str=_json_lines(ctx1.entities, ("entity", "type", "description")),
        relations_str=_json_lines(
            ctx1.relations, ("entity1", "entity2", "description")
        ),
        text_chunks_str="",
        reference_list_str="",
    )
    expected = (
        4000
        - count_tokens(build_rag_prompt("", p1.response_type, p1.user_prompt))
        - count_tokens(pre_kg)
        - count_tokens(query)
        - 200
    )
    assert b1 == expected
    # budget tightens with a fat user_prompt (system-prompt overhead)
    p2 = QueryParams(mode="hybrid", top_k=5, max_total_tokens=4000,
                     user_prompt="be very detailed " * 50)
    ctx2 = kg_query(spark, g, query, p2)
    assert ctx2.processing_info["available_chunk_tokens"] < b1
    # local mode never keeps MORE kg-context tokens than hybrid (here
    # the one-hop expansion makes them equal on this 2-node graph)
    p3 = QueryParams(mode="local", top_k=5, max_total_tokens=4000)
    ctx3 = kg_query(spark, g, query, p3)
    assert ctx3.processing_info["available_chunk_tokens"] >= b1


def test_rrf_fuse(spark):
    """Hand-checked RRF: an id ranked high in BOTH lists beats the
    single-list leaders; rank ties broken by id identically."""
    from pyspark.sql import functions as F

    from graphrag_kb_server_spark.operators.merge import rrf_fuse

    l1 = spark.createDataFrame(
        [(1, 0.9), (2, 0.8), (3, 0.7)], "id long, s double")
    l2 = spark.createDataFrame(
        [(2, 5.0), (4, 4.0), (1, 3.0)], "id long, s double")
    out = [(r.id, r.rrf, r.n_lists) for r in
           rrf_fuse([(l1, "s"), (l2, "s")], "id", top_k=4)
           .collect()]
    def rr(*ranks):
        return round(sum(1.0 / (60 + r) for r in ranks), 6)
    assert out[0] == (2, rr(2, 1), 2)   # in both lists, high in both
    assert out[1] == (1, rr(1, 3), 2)
    assert {o[0] for o in out} == {1, 2, 3, 4}
    assert dict((o[0], o[2]) for o in out)[4] == 1


_ACTIONS = ("collect", "toPandas", "first", "take", "head", "tail", "count",
            "isEmpty", "toLocalIterator", "foreach", "foreachPartition",
            "show", "checkpoint", "localCheckpoint")


def _count_actions(spark, monkeypatch) -> list[str]:
    """Record every outermost DataFrame action (an action called inside
    another, e.g. first → head → take, is part of the outer one) and
    every write, tagged ``cache:`` while LlmCache I/O runs."""
    from graphrag_kb_server_spark.operators.context_ops import LlmCache

    log: list[str] = []
    state = {"depth": 0, "cache": 0}

    def counted(orig, name):
        def call(*a, **kw):
            if state["depth"] == 0:
                log.append(("cache:" if state["cache"] else "") + name)
            state["depth"] += 1
            try:
                return orig(*a, **kw)
            finally:
                state["depth"] -= 1
        return call

    def cache_io(orig):
        def call(*a, **kw):
            state["cache"] += 1
            try:
                return orig(*a, **kw)
            finally:
                state["cache"] -= 1
        return call

    df_cls = type(spark.range(1))
    writer_cls = type(spark.range(1).write)
    for name in _ACTIONS:
        monkeypatch.setattr(df_cls, name, counted(getattr(df_cls, name), name))
    for name in ("save", "parquet", "saveAsTable", "insertInto"):
        monkeypatch.setattr(writer_cls, name,
                            counted(getattr(writer_cls, name), "write"))
    for name in ("get", "put", "compact"):
        monkeypatch.setattr(LlmCache, name, cache_io(getattr(LlmCache, name)))
    return log


def test_kg_query_action_budget(spark, monkeypatch, tmp_path):
    """A request is at most two Spark actions (search collect + chunk
    collect) and never a checkpoint; answer_query adds only the LLM
    cache's own I/O."""
    from graphrag_kb_server_spark.plans.query_pipeline import (
        QueryParams, answer_query, kg_query,
    )

    g = _mini_graph(spark)
    log = _count_actions(spark, monkeypatch)
    for mode in ("local", "global", "hybrid", "mix"):
        log.clear()
        ctx = kg_query(spark, g, "Alpha", QueryParams(mode=mode, top_k=5))
        assert ctx.chunks, mode
        assert len(log) <= 2, (mode, log)
        assert not [a for a in log if "checkpoint" in a.lower()], (mode, log)
    log.clear()
    res = answer_query(spark, g, "Alpha", QueryParams(mode="hybrid", top_k=5),
                       cache_path=str(tmp_path / "llm_cache"))
    assert res["answer"]
    outside_cache = [a for a in log if not a.startswith("cache:")]
    assert len(outside_cache) <= 2 and "write" not in outside_cache, log


def test_kg_query_warm_path_action_budget(spark, monkeypatch, tmp_path):
    """The first request on a KB makes exactly two Spark actions, the
    snapshot gate's column-free probe and the snapshot's collect; every
    later request makes none, and answer_query, whose LLM cache is
    served without Spark, makes none and writes nothing through Spark
    either. With the snapshot cap forced to 0 the distributed budget
    holds: at most two actions, never a checkpoint."""
    from graphrag_kb_server_spark.plans import query_pipeline as qp

    modes = ("local", "global", "hybrid", "mix")
    log = _count_actions(spark, monkeypatch)
    g = _mini_graph(spark)
    assert qp.kg_query(spark, g, "Alpha", qp.QueryParams(top_k=5)).chunks
    assert log == ["collect", "collect"], log
    for mode in modes:
        log.clear()
        ctx = qp.kg_query(spark, g, "Alpha", qp.QueryParams(mode=mode, top_k=5))
        assert ctx.chunks and log == [], (mode, log)
    log.clear()
    res = qp.answer_query(spark, g, "Alpha", qp.QueryParams(top_k=5),
                          cache_path=str(tmp_path / "llm_cache"))
    assert res["answer"]
    assert log == [], log

    monkeypatch.setattr(qp, "SNAPSHOT_CAP", 0)
    g = _mini_graph(spark)
    for mode in modes:
        log.clear()
        ctx = qp.kg_query(spark, g, "Alpha", qp.QueryParams(mode=mode, top_k=5))
        assert ctx.chunks, mode
        assert 0 < len(log) <= 2, (mode, log)
        assert not [a for a in log if "checkpoint" in a.lower()], (mode, log)


def test_kg_query_snapshot_job_group_and_path_record(spark, monkeypatch, caplog):
    """The snapshot collect runs under kg_query:snapshot and restores
    the caller's job group; each request's DEBUG record names its
    stage-1 path."""
    import logging

    from graphrag_kb_server_spark.plans import query_pipeline as qp

    sc = spark.sparkContext

    def request(g):
        sc.setJobGroup("caller-group", "caller")
        try:
            with caplog.at_level(logging.DEBUG, logger=qp.__name__):
                ctx = qp.kg_query(spark, g, "Alpha", qp.QueryParams(mode="mix", top_k=5))
            assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert set(ctx.stage_s) == {"search", "truncate", "merge_chunks", "context"}
        return [r.getMessage() for r in caplog.records
                if r.name == qp.__name__ and r.levelno == logging.DEBUG]

    tracker = sc.statusTracker()

    def job_ids():
        return {grp: set(tracker.getJobIdsForGroup(grp)) for grp in
                ("kg_query:snapshot", "kg_query:search", "kg_query:chunks")}

    before = job_ids()
    assert "stage1=driver" in request(_mini_graph(spark))[-1]
    new = {grp: ids - before[grp] for grp, ids in job_ids().items()}
    assert new["kg_query:snapshot"]
    assert not new["kg_query:search"] and not new["kg_query:chunks"], new
    monkeypatch.setattr(qp, "SNAPSHOT_CAP", 0)
    caplog.clear()
    before = job_ids()
    assert "stage1=distributed" in request(_mini_graph(spark))[-1]
    new = {grp: ids - before[grp] for grp, ids in job_ids().items()}
    assert new["kg_query:search"] and new["kg_query:chunks"], new
    assert not new["kg_query:snapshot"], new


def test_snapshot_built_once_under_concurrent_first_requests(spark, monkeypatch):
    """Concurrent first requests on a fresh KB share one snapshot build."""
    import sys
    import threading

    from graphrag_kb_server_spark.plans import query_pipeline as qp

    builds = []
    real_build = qp._build_snapshot

    def counted_build(*a, **kw):
        builds.append(threading.get_ident())
        return real_build(*a, **kw)

    monkeypatch.setattr(qp, "_build_snapshot", counted_build)
    g = _mini_graph(spark)
    results, errors = [], []

    def request():
        try:
            ctx = qp.kg_query(spark, g, "Alpha", qp.QueryParams(top_k=5))
            results.append((g.snapshot(spark), ctx.context_str()))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=request) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(builds) == 1
    assert len(results) == 8
    assert len({id(snap) for snap, _ in results}) == 1
    assert len({ctx for _, ctx in results}) == 1


def test_kg_query_stage_times_and_job_groups(spark, monkeypatch):
    from graphrag_kb_server_spark.plans import query_pipeline as qp
    from graphrag_kb_server_spark.plans.query_pipeline import (
        QueryParams, kg_query,
    )

    monkeypatch.setattr(qp, "SNAPSHOT_CAP", 0)  # the distributed stage 1
    g = _mini_graph(spark)
    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller")
    try:
        ctx = kg_query(spark, g, "Alpha", QueryParams(mode="mix", top_k=5))
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(ctx.stage_s) == {"search", "truncate", "merge_chunks", "context"}
    assert all(v >= 0 for v in ctx.stage_s.values())
    assert "stage_s" not in str(ctx.raw_data()) and "search" not in ctx.processing_info
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("kg_query:search")
    assert tracker.getJobIdsForGroup("kg_query:chunks")


def test_q12_pick_failure_falls_back_to_polling(spark, monkeypatch, caplog):
    """The documented Q12 fallback: when the vector pick raises, the
    request is served with the weighted-polling pick and a WARNING."""
    import logging
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import __spark_entry__ as entrymod
    from graphrag_kb_server_spark.plans import query_pipeline as qp

    g = entrymod._tiny_graph_tables(spark)
    hub = g.nodes.orderBy(F.desc("mention_count"), "name").first()["name"]
    query = f"What is the relationship between {hub} and others?"

    def run(pick):
        # no relations, so no relation chunks back-fill the entity pick
        return qp.kg_query(spark, g, query, qp.QueryParams(
            mode="hybrid", top_k=10, chunk_pick=pick, related_chunk_number=1,
            max_entity_tokens=1000, max_relation_tokens=0))

    polling = run("weighted_polling")
    # the two picks differ on this graph, so the comparison below can fail
    assert run("vector").context_str() != polling.context_str()

    def broken(*a, **kw):
        raise RuntimeError("embedding backend unavailable")

    monkeypatch.setattr(qp, "vector_pick_ids", broken)
    with caplog.at_level(logging.WARNING, logger=qp.__name__):
        fallback = run("vector")
    assert fallback.context_str() == polling.context_str()
    assert fallback.processing_info == polling.processing_info
    assert fallback.references == polling.references
    assert any(r.levelno == logging.WARNING and "falling back" in r.getMessage()
               for r in caplog.records)


@pytest.fixture
def tiny_sf(spark, tmp_path):
    """A directory with the three tables the temp-dir entries read."""
    spark.createDataFrame(
        [(1, "Alpha met Beta in Gamma.", "en", "web"),
         (2, "Delta works at Epsilon.", "en", "web")],
        "doc_id bigint, text string, lang string, source string",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    spark.createDataFrame(
        [(0, "ALGERIA", 0), (1, "FRANCE", 1)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).write.parquet(f"{tmp_path}/nation.parquet")
    spark.createDataFrame(
        [(0, "AFRICA"), (1, "EUROPE")], "r_regionkey int, r_name string"
    ).write.parquet(f"{tmp_path}/region.parquet")
    return str(tmp_path)


@pytest.mark.parametrize("name, prefix", [
    pytest.param(name, prefix, id=name) for name, prefix in [
        ("kg_answer", "kg_answer_oracle_"),
        ("s_incremental_docs", "s_incr_"),
        ("kg_export_roundtrip", "kg_graphml_rt_"),
        ("kg_export_gexf", "kg_gexf_rt_"),
        ("kg_export_xlsx", "kg_xlsx_rt_"),
    ]
])
def test_entry_leaves_no_temp_dir(spark, tiny_sf, name, prefix):
    """An entry that works in a temporary directory removes it before
    it returns, and its result is still readable afterwards."""
    import glob
    import os
    import sys
    import tempfile
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import __spark_entry__ as entrymod

    pattern = os.path.join(tempfile.gettempdir(), prefix + "*")
    before = set(glob.glob(pattern))
    rows = entrymod.queries()[name](spark, tiny_sf).collect()
    assert rows
    assert set(glob.glob(pattern)) <= before
