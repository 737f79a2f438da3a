import pandas as pd
from pyspark.sql import functions as F

from graphrag_kb_server_spark.corpus import generate
from graphrag_kb_server_spark.functions.text import doc_id, extract_text
from graphrag_kb_server_spark.golden import golden_triples, precision_recall
from graphrag_kb_server_spark.operators.chunking import chunk_documents
from graphrag_kb_server_spark.operators.extraction import extract_mentions, extract_triples
from graphrag_kb_server_spark.operators.graph_build import (
    build_edges,
    build_nodes,
    finalize_graph,
)


def test_extract_triples_simple():
    text = "Alice Johnson acquired Acme Systems. the filler sentence here. Berlin partnered with Wonka Labs."
    triples = extract_triples(text)
    assert {(t["subj"], t["pred"], t["obj"]) for t in triples} == {
        ("Alice Johnson", "acquired", "Acme Systems"),
        ("Berlin", "partnered with", "Wonka Labs"),
    }
    by_subj = {t["subj"]: t for t in triples}
    assert by_subj["Alice Johnson"]["subj_type"] == "person"
    assert by_subj["Alice Johnson"]["obj_type"] == "organization"
    assert by_subj["Berlin"]["subj_type"] == "geo"


def test_extract_triples_fragment_suppression():
    # trailing unterminated fragment dropped
    assert extract_triples("Alice Johnson acquired Acme") == []
    # leading fragment dropped when not first chunk
    t = extract_triples("Systems advises Wayne Energy. Oslo employs Greta Larsen.", is_first_chunk=False)
    assert {(x["subj"], x["obj"]) for x in t} == {("Oslo", "Greta Larsen")}


def _docs(spark, n=60):
    pages = generate(spark, n)
    return pages.select(
        "url", extract_text(F.col("text"), F.col("url")).alias("content")
    ).withColumn("doc_id", doc_id(F.col("content"))).withColumn(
        "file_path", F.col("url")
    )


def test_pipeline_triples_pr_vs_golden(spark):
    n = 60
    docs = _docs(spark, n)
    chunks = chunk_documents(docs)
    mentions = extract_mentions(chunks)
    # predicted distinct (url, subj, pred, obj): map doc_id → url
    pred = (
        mentions.join(docs.select("doc_id", "url"), "doc_id")
        .select("url", "subj", "pred", "obj")
        .distinct()
        .toPandas()
    )
    gold = golden_triples(n)
    p, r = precision_recall(pred, gold, ["url", "subj", "pred", "obj"])
    assert p >= 0.95, f"precision {p}"
    assert r >= 0.95, f"recall {r}"


def test_graph_build_merge_semantics(spark):
    mentions = spark.createDataFrame(
        pd.DataFrame(
            [
                # same undirected pair, both directions, weights sum
                dict(chunk_id="c1", doc_id="d1", subj="B", subj_type="geo",
                     pred="p1", obj="A", obj_type="geo", description="s1", weight=1.0),
                dict(chunk_id="c2", doc_id="d1", subj="A", subj_type="geo",
                     pred="p2", obj="B", obj_type="geo", description="s2", weight=2.0),
                dict(chunk_id="c2", doc_id="d1", subj="A", subj_type="geo",
                     pred="p1", obj="C", obj_type="geo", description="s3", weight=1.0),
            ]
        )
    )
    nodes = build_nodes(mentions)
    edges = build_edges(mentions)
    nrows = {r["name"]: r for r in nodes.collect()}
    assert set(nrows) == {"A", "B", "C"}
    assert nrows["A"]["mention_count"] == 3
    assert nrows["A"]["source_chunk_ids"] == ["c1", "c2"]
    erows = {(r["src"], r["tgt"]): r for r in edges.collect()}
    assert set(erows) == {("A", "B"), ("A", "C")}
    assert erows[("A", "B")]["weight"] == 3.0  # summed across directions
    assert erows[("A", "B")]["keywords"] == "p1<SEP>p2"
    nodes_f, edges_f = finalize_graph(nodes, edges)
    deg = {r["name"]: r["degree"] for r in nodes_f.collect()}
    assert deg == {"A": 2, "B": 1, "C": 1}
    cd = {(r["src"], r["tgt"]): r["combined_degree"] for r in edges_f.collect()}
    assert cd[("A", "B")] == 3


def test_graph_build_salting_invariance(spark, monkeypatch):
    """Result must not depend on salt bucket count (exactness of the
    two-phase aggregation)."""
    from graphrag_kb_server_spark.operators import graph_build

    docs = _docs(spark, 40)
    mentions = extract_mentions(chunk_documents(docs))
    monkeypatch.setattr(graph_build, "SALT_BUCKETS", 1)
    a = build_nodes(mentions).orderBy("name").toPandas()
    monkeypatch.setattr(graph_build, "SALT_BUCKETS", 32)
    b = build_nodes(mentions).orderBy("name").toPandas()
    pd.testing.assert_frame_equal(a, b)
