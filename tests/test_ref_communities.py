"""G2 quality bound — the LPA-for-Leiden deviation, quantified on the
reference's own shipped data.

The reference clusters with graspologic hierarchical_leiden
(/root/reference/graphrag_kb_server/service/lightrag/lightrag_clustering.py:168-233)
and ships a real output: data/onepoint/output/{relationships,entities,
communities}.parquet — 793 weighted edges and a 21-community level-0
Leiden partition (modularity 0.545). Our G2 substitutes deterministic
SEMI-synchronous LPA (documented deviation, SURVEY.md §2.3); this suite
pins the quality gap on that graph instead of leaving it unquantified:

- semi-sync LPA reaches ≥ 80% of the Leiden partition's modularity
  (measured 0.467 vs 0.545 = 86%); fully-synchronous LPA scored
  MODULARITY −0.10 here (degenerate oscillation), which is what
  motivated the semi-synchronous rule.
- hierarchical splitting respects max_cluster_size on the dwell1
  fixture graph.
- the distributed rounds and the size-adaptive driver loop produce
  identical labelings.
"""

from __future__ import annotations

import collections
import os

import pytest

from pyspark.sql import functions as F

ONEPOINT = "/root/reference/data/onepoint/output"
DWELL1 = "/root/reference/docs/dummy_projects/lightrag/dwell1/lightrag"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(ONEPOINT), reason="reference onepoint output not present"
)


def _onepoint_edges():
    import duckdb

    rel = duckdb.sql(
        f"SELECT source, target, weight FROM "
        f"read_parquet('{ONEPOINT}/relationships.parquet')"
    ).df()
    return [
        (s, t, float(w))
        for s, t, w in zip(rel["source"], rel["target"], rel["weight"])
    ]


def _modularity(partition: dict, edges: list) -> float:
    """Weighted Newman modularity; unassigned nodes count as
    singletons."""
    m2 = 0.0
    k: dict = collections.defaultdict(float)
    for s, t, w in edges:
        m2 += 2 * w
        k[s] += w
        k[t] += w

    def c(n):
        return partition.get(n, ("singleton", n))

    intra: dict = collections.defaultdict(float)
    tot: dict = collections.defaultdict(float)
    for s, t, w in edges:
        if c(s) == c(t):
            intra[c(s)] += 2 * w
    for n, deg in k.items():
        tot[c(n)] += deg
    return sum(intra[ci] / m2 - (tot[ci] / m2) ** 2 for ci in tot)


def _reference_leiden_partition():
    import duckdb

    ent = duckdb.sql(
        f"SELECT id, title FROM read_parquet('{ONEPOINT}/entities.parquet')"
    ).df()
    com = duckdb.sql(
        f"SELECT community, entity_ids FROM "
        f"read_parquet('{ONEPOINT}/communities.parquet') WHERE level = 0"
    ).df()
    id2title = dict(zip(ent["id"], ent["title"]))
    part = {}
    for comm, eids in zip(com["community"], com["entity_ids"]):
        for eid in eids:
            t = id2title.get(eid)
            if t is not None:
                part[t] = ("ref", int(comm))
    return part


def test_semi_sync_lpa_modularity_within_bound_of_leiden(spark):
    from graphrag_kb_server_spark.operators.communities import label_propagation

    edges = _onepoint_edges()
    ref = _reference_leiden_partition()
    q_ref = _modularity(ref, edges)
    assert q_ref > 0.5  # the shipped Leiden partition is genuinely modular

    edf = spark.createDataFrame(edges, "src string, tgt string, weight double")
    rows = label_propagation(edf).collect()
    mine = {r["node"]: ("lpa", r["label"]) for r in rows}
    q_lpa = _modularity(mine, edges)

    # the stated deviation bound: ≥ 80% of Leiden's modularity on the
    # reference's own graph (measured 0.467 / 0.545 = 0.857)
    assert q_lpa >= 0.8 * q_ref, (q_lpa, q_ref)
    assert q_lpa > 0.4


def test_distributed_rounds_match_driver_loop(spark):
    """The size-adaptive guard must be a pure execution-strategy choice:
    forcing the distributed path (threshold 0) yields the exact same
    labeling as the driver loop."""
    from graphrag_kb_server_spark.operators.communities import label_propagation

    edges = _onepoint_edges()[:200]
    edf = spark.createDataFrame(edges, "src string, tgt string, weight double")
    drv = {
        (r["node"], r["label"])
        for r in label_propagation(edf).collect()
    }
    dist = {
        (r["node"], r["label"])
        for r in label_propagation(edf, driver_cap=0).collect()
    }
    assert drv == dist


def test_modularity_refine_closes_gap_to_leiden(spark):
    """Louvain-style refinement over LPA must recover ≥ 95% of the
    shipped Leiden partition's modularity on the reference's own graph
    (measured 0.537 / 0.545 = 98.5%), and graph_modularity() must agree
    with this suite's independent python scorer."""
    from graphrag_kb_server_spark.operators.communities import (
        graph_modularity,
        label_propagation,
        modularity_refine,
    )

    edges = _onepoint_edges()
    ref = _reference_leiden_partition()
    q_ref = _modularity(ref, edges)

    edf = spark.createDataFrame(edges, "src string, tgt string, weight double")
    lab = label_propagation(edf)
    q_lpa = _modularity(
        {r["node"]: ("c", r["label"]) for r in lab.collect()}, edges
    )
    refined = modularity_refine(edf, lab)
    part = {r["node"]: ("c", r["label"]) for r in refined.collect()}
    q_ref_mine = _modularity(part, edges)

    assert q_ref_mine > q_lpa  # the refinement must actually help
    assert q_ref_mine >= 0.95 * q_ref, (q_ref_mine, q_ref)

    # operator scorer == this suite's python scorer (all nodes labeled,
    # so the singleton fallback never fires)
    q_op = graph_modularity(edf, refined)
    assert abs(q_op - q_ref_mine) < 1e-9, (q_op, q_ref_mine)


def test_refine_distributed_matches_driver_loop(spark):
    """modularity_refine's size-adaptive guard must be a pure
    execution-strategy choice: same labeling either way (integer
    weights → bit-identical ΔQ on both paths)."""
    from graphrag_kb_server_spark.operators.communities import (
        label_propagation,
        modularity_refine,
    )
    from graphrag_kb_server_spark.golden import golden_refine_graph_edges

    edges = golden_refine_graph_edges()
    edf = spark.createDataFrame(edges, "src string, tgt string, weight double")
    lab = label_propagation(edf)
    kw = dict(outer_rounds=1, max_merge_passes=3, local_rounds=3)
    drv = {
        (r["node"], r["label"])
        for r in modularity_refine(edf, lab, **kw).collect()
    }
    dist = {
        (r["node"], r["label"])
        for r in modularity_refine(
            edf, lab, driver_cap=0, **kw
        ).collect()
    }
    assert drv == dist


def test_hierarchical_split_respects_max_size_on_dwell1(spark):
    from graphrag_kb_server_spark.operators.communities import (
        hierarchical_communities,
    )
    from graphrag_kb_server_spark.sources.ref_artifacts import read_graphml

    _, edges = read_graphml(
        spark, f"{DWELL1}/graph_chunk_entity_relation.graphml"
    )
    asg = hierarchical_communities(
        edges.select("src", "tgt", "weight"), max_cluster_size=30, max_levels=3
    )
    rows = asg.collect()
    leaf: dict = {}
    for r in rows:
        if r["node"] not in leaf or r["level"] > leaf[r["node"]][0]:
            leaf[r["node"]] = (r["level"], r["cluster"])
    sizes = collections.Counter(v for v in leaf.values())
    assert max(sizes.values()) <= 30
    # level 0 covers the LCC (167 of 359 dwell1 nodes)
    assert len({n for n, (lvl, _) in leaf.items()}) == 167

def test_hierarchical_refine_option(spark):
    """refine=True must lift level-0 modularity over plain LPA while
    preserving the output contract (schema, level-0 totality, splitting
    still bounded by max_cluster_size)."""
    from graphrag_kb_server_spark.operators.communities import (
        hierarchical_communities,
    )

    edges = _onepoint_edges()
    edf = spark.createDataFrame(edges, "src string, tgt string, weight double")
    plain = hierarchical_communities(edf, max_cluster_size=30, max_levels=3)
    refined = hierarchical_communities(
        edf, max_cluster_size=30, max_levels=3, refine=True
    )
    assert plain.columns == refined.columns

    def _lvl0(asg):
        return {
            r["node"]: ("c", r["cluster"])
            for r in asg.where(F.col("level") == 0).collect()
        }

    p0, r0 = _lvl0(plain), _lvl0(refined)
    assert set(p0) == set(r0)  # same LCC node coverage
    assert _modularity(r0, edges) > _modularity(p0, edges)

    leaf: dict = {}
    for r in refined.collect():
        if r["node"] not in leaf or r["level"] > leaf[r["node"]][0]:
            leaf[r["node"]] = (r["level"], r["cluster"])
    sizes = collections.Counter(v for v in leaf.values())
    assert max(sizes.values()) <= 30
