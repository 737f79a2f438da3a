"""G9 — legacy-GraphRAG communities table: schema pinned against the
reference's SHIPPED artifact (VERDICT r4 item 5).

/root/reference/data/onepoint/output/communities.parquet is the
reference's real GraphRAG output; community_hierarchy() must emit the
exact same column names, order, and Spark-visible types so a consumer
of that artifact can read ours unchanged.
"""

from __future__ import annotations

import os

import pytest

from graphrag_kb_server_spark.operators.communities import community_hierarchy

REF_COMMUNITIES = "/root/reference/data/onepoint/output/communities.parquet"


def _tiny_assignments(spark):
    # two-level hierarchy: A/B are level-0 roots; A splits into A1/A2
    rows = [
        ("n1", 0, "A", None), ("n2", 0, "A", None), ("n3", 0, "A", None),
        ("n4", 0, "B", None), ("n5", 0, "B", None),
        ("n1", 1, "A1", "A"), ("n2", 1, "A1", "A"), ("n3", 1, "A2", "A"),
    ]
    return spark.createDataFrame(
        rows, "node string, level int, cluster string, parent_cluster string"
    )


@pytest.mark.skipif(
    not os.path.exists(REF_COMMUNITIES), reason="reference artifact absent"
)
def test_schema_matches_reference_artifact(spark):
    ref = spark.read.parquet(REF_COMMUNITIES)
    ours = community_hierarchy(_tiny_assignments(spark))
    ref_fields = [(f.name, f.dataType.simpleString()) for f in ref.schema.fields]
    our_fields = [(f.name, f.dataType.simpleString()) for f in ours.schema.fields]
    assert our_fields == ref_fields


def test_hierarchy_links(spark):
    edges = spark.createDataFrame(
        [("n1", "n2"), ("n2", "n3"), ("n4", "n5")], "src string, tgt string"
    )
    chunks = spark.createDataFrame(
        [("n1", "c1"), ("n2", "c1"), ("n3", "c2"), ("n4", "c3"), ("n5", "c3")],
        "node string, chunk_id string",
    )
    out = community_hierarchy(
        _tiny_assignments(spark), edges=edges, chunk_ids=chunks, period="2026-08"
    ).collect()
    by_title = {r["title"]: r for r in out}
    ids = {r["community"]: r for r in out}
    # dense deterministic ids by (level, cluster): A=0, B=1, A1=2, A2=3
    a, b, a1, a2 = ids[0], ids[1], ids[2], ids[3]
    assert (a["parent"], b["parent"]) == (-1, -1)
    assert a1["parent"] == a["community"] and a2["parent"] == a["community"]
    assert list(a["children"]) == [a1["community"], a2["community"]]
    assert list(b["children"]) == []
    assert list(a["entity_ids"]) == ["n1", "n2", "n3"]
    assert a["size"] == 3 and b["size"] == 2
    # intra-community edges only: A gets n1-n2 and n2-n3; A1 only n1-n2
    assert len(a["relationship_ids"]) == 2
    assert len(a1["relationship_ids"]) == 1
    assert len(a2["relationship_ids"]) == 0
    assert list(a["text_unit_ids"]) == ["c1", "c2"]
    assert all(r["period"] == "2026-08" for r in out)
    assert len(by_title) == 4  # titles are unique Community <id>
