"""Driver-twin parity pins: every size-adaptive driver path must be
bit-identical to its distributed twin on graphs that exercise the
tie-break rules.

- canonical_map: driver path (LSH → cosine → components in-process)
  vs the distributed operator composition (driver_cap=0); the LSH
  bucket stats the driver path reports vs candidate_bucket_stats.
- label_propagation / modularity_refine: numpy-vectorized driver loops
  vs the distributed rounds (driver_cap=0) — integer weights
  (the documented bit-parity contract).
- collect_if_small, the one gate all seven operators share: its
  cap / cap + 1 / 0 boundary, and per operator a run at
  driver_cap = probed rows (driver) vs probed rows − 1 (distributed).
"""

from __future__ import annotations

import logging
import random
import time

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from graphrag_kb_server_spark.session import get_spark

    return get_spark("test_r06_parity", cpus=4, shuffle_partitions=4)


def test_canonical_map_driver_matches_distributed(spark):
    from graphrag_kb_server_spark.operators.linking import canonical_map

    names = [
        # similar-name cluster (shared 3-grams, cosine >= 0.8)
        "Quantum Analytics Systems", "Quantum Analytic Systems",
        "Quantum Analytics System",
        # abbreviation channel
        "AI", "Artificial Intelligence",
        "KG", "Knowledge Graph",
        # singletons
        "Zebra", "Wombat Industries", "Data Mesh",
        # single-char + near-identical short names
        "Xx", "Xy",
    ] + [f"Node {i} Alpha" for i in range(30)]
    nodes = spark.createDataFrame([(n,) for n in names], "name string")
    drv = sorted(
        (r["name"], r["canonical_name"])
        for r in canonical_map(nodes).collect()
    )
    dist = sorted(
        (r["name"], r["canonical_name"])
        for r in canonical_map(nodes, driver_cap=0).collect()
    )
    assert drv == dist
    # sanity: the abbreviation collapses onto the expansion
    m = dict(drv)
    assert m["AI"] == "Artificial Intelligence"


def test_canonical_map_driver_skips_non_ascii(spark):
    from graphrag_kb_server_spark.operators.linking import canonical_map

    nodes = spark.createDataFrame(
        [("Café",), ("Cafe",), ("Plain",)], "name string"
    )
    # must not crash and must match the distributed path (non-ASCII
    # vocabularies bypass the driver shortcut entirely)
    drv = sorted(
        (r["name"], r["canonical_name"])
        for r in canonical_map(nodes).collect()
    )
    dist = sorted(
        (r["name"], r["canonical_name"])
        for r in canonical_map(nodes, driver_cap=0).collect()
    )
    assert drv == dist



@pytest.mark.parametrize(
    "names",
    [
        ["Quantum Analytics Systems", "Quantum Analytic Systems", "AI",
         "Artificial Intelligence", "Zebra", "Xx", "Xy"]
        + [f"Node {i} Alpha" for i in range(30)],
        # one shingle for every name: each band holds a single
        # 80-member bucket, over max_bucket=64
        ["aaa" + "a" * i for i in range(80)],
        [],
    ],
    ids=["normal", "oversized", "empty"],
)
def test_canonical_map_bucket_stats_match_distributed(spark, names):
    """The driver path's LSH bucket stats are candidate_bucket_stats'
    row, nulls included on an empty vocabulary; the distributed path
    reports none, so the index pipeline calls candidate_bucket_stats."""
    from graphrag_kb_server_spark.operators.linking import (
        candidate_bucket_stats,
        canonical_map,
    )

    nodes = spark.createDataFrame([(n,) for n in names], "name string")
    want = candidate_bucket_stats(nodes).first().asDict()
    got: dict = {}
    drv = sorted(canonical_map(nodes, bucket_stats=got).collect())
    assert got == want
    assert list(got) == ["n_buckets", "n_oversized", "max_size"]
    if not names:
        assert want == {"n_buckets": 0, "n_oversized": None, "max_size": None}
    if len(names) == 80:
        assert want["n_oversized"] == 4 and want["max_size"] == 80
    dist_stats: dict = {}
    dist = sorted(canonical_map(nodes, driver_cap=0, bucket_stats=dist_stats).collect())
    assert dist_stats == {}
    assert drv == dist

def _random_edges(seed: int, n_nodes: int = 40, n_edges: int = 90):
    rnd = random.Random(seed)
    seen, rows = set(), []
    while len(rows) < n_edges:
        a, b = rnd.sample(range(n_nodes), 2)
        key = (min(a, b), max(a, b))
        if key in seen:
            continue
        seen.add(key)
        rows.append((f"n{key[0]}", f"n{key[1]}", float(rnd.randint(1, 9))))
    return rows


@pytest.mark.parametrize("seed", [1, 2])
def test_lpa_vectorized_driver_matches_distributed(spark, seed):
    from graphrag_kb_server_spark.operators.communities import (
        label_propagation,
    )

    edf = spark.createDataFrame(
        _random_edges(seed), "src string, tgt string, weight double"
    )
    drv = sorted(
        (r["node"], r["label"])
        for r in label_propagation(edf, max_iterations=6).collect()
    )
    dist = sorted(
        (r["node"], r["label"])
        for r in label_propagation(
            edf, max_iterations=6, driver_cap=0
        ).collect()
    )
    assert drv == dist


@pytest.mark.parametrize("seed", [3])
def test_refine_vectorized_driver_matches_distributed(spark, seed):
    from graphrag_kb_server_spark.operators.communities import (
        label_propagation,
        modularity_refine,
    )

    edf = spark.createDataFrame(
        _random_edges(seed), "src string, tgt string, weight double"
    )
    lab = label_propagation(edf, max_iterations=6)
    kw = dict(outer_rounds=1, max_merge_passes=4, local_rounds=3)
    drv = sorted(
        (r["node"], r["label"])
        for r in modularity_refine(edf, lab, **kw).collect()
    )
    dist = sorted(
        (r["node"], r["label"])
        for r in modularity_refine(
            edf, lab, driver_cap=0, **kw
        ).collect()
    )
    assert drv == dist


@pytest.mark.parametrize("num_sources", [None, 8])
def test_betweenness_driver_matches_distributed(spark, num_sources):
    from graphrag_kb_server_spark.operators.centrality import (
        approx_betweenness,
    )

    edf = spark.createDataFrame(
        [(a, b) for a, b, _ in _random_edges(7, n_nodes=25, n_edges=45)],
        "src string, tgt string",
    )
    drv = {
        r["name"]: round(r["centrality"], 4)
        for r in approx_betweenness(edf, num_sources=num_sources).collect()
    }
    dist = {
        r["name"]: round(r["centrality"], 4)
        for r in approx_betweenness(
            edf, num_sources=num_sources, driver_cap=0
        ).collect()
    }
    assert drv == dist


def test_kmeans_empty_input_raises(spark):
    from graphrag_kb_server_spark.operators.clustering import kmeans

    empty = spark.createDataFrame([], "id string, v array<float>")
    with pytest.raises(ValueError, match="empty"):
        kmeans(empty, "id", "v", k=3, iters=1)


GATE_LOG = "graphrag_kb_server_spark.operators.graph_support"


def test_collect_if_small_boundary(spark, caplog):
    from graphrag_kb_server_spark.operators.graph_support import (
        collect_if_small,
    )

    caplog.set_level(logging.INFO, logger=GATE_LOG)
    df = spark.range(5)
    pdf = collect_if_small(df, 5, "boundary")
    assert sorted(pdf["id"].tolist()) == [0, 1, 2, 3, 4]
    assert collect_if_small(df, 4, "boundary") is None
    assert [r.args for r in caplog.records if r.name == GATE_LOG] == [
        {"op": "boundary", "probed_rows": 5, "cap": 5, "path": "driver"},
        {"op": "boundary", "probed_rows": 5, "cap": 4, "path": "distributed"},
    ]

    # cap 0 starts no Spark job: run it inside a fresh job group, then
    # one known single-job action in the same group; once the status
    # store shows that job, every earlier job of the group would show
    # too (listener events arrive in order)
    sc = spark.sparkContext
    sc.setJobGroup("collect_if_small_cap0", "cap 0 probe")
    try:
        assert collect_if_small(df, 0, "boundary") is None
        sc.parallelize([1], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    jobs = tracker.getJobIdsForGroup("collect_if_small_cap0")
    while not jobs and time.time() < deadline:
        time.sleep(0.1)
        jobs = tracker.getJobIdsForGroup("collect_if_small_cap0")
    assert len(jobs) == 1
    assert [r.args for r in caplog.records if r.name == GATE_LOG][-1] == {
        "op": "boundary", "probed_rows": 0, "cap": 0, "path": "distributed",
    }


def _rank_map(df, col):
    return {r["name"]: round(r[col], 9) for r in df.collect()}


def _sorted_rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def gate_cases(spark):
    """op → (probed rows, run(driver_cap) → comparable output). Integer
    weights throughout: the LPA/refine bit-parity contract needs them,
    and they keep the float paths' sums exact."""
    from graphrag_kb_server_spark.operators.centrality import (
        approx_betweenness,
        pagerank,
    )
    from graphrag_kb_server_spark.operators.communities import (
        label_propagation,
        modularity_refine,
    )
    from graphrag_kb_server_spark.operators.components import (
        connected_components,
    )
    from graphrag_kb_server_spark.operators.hits import hits
    from graphrag_kb_server_spark.operators.linking import canonical_map

    rows = _random_edges(11, n_nodes=24, n_edges=40)
    edf = spark.createDataFrame(rows, "src string, tgt string, weight double")
    sparse = _random_edges(12, n_nodes=40, n_edges=25)
    sdf = spark.createDataFrame(sparse, "src string, tgt string, weight double")
    names = ["AI", "Artificial Intelligence", "Data Mesh", "Data Meshes"] + [
        f"Node {i} Alpha" for i in range(12)
    ]
    ndf = spark.createDataFrame([(n,) for n in names], "name string")
    lab = label_propagation(edf, max_iterations=6)
    refine_kw = dict(outer_rounds=1, max_merge_passes=4, local_rounds=3)
    return {
        # distinct names
        "canonical_map": (
            len(names),
            lambda cap: _sorted_rows(
                canonical_map(ndf, driver_cap=cap), "name", "canonical_name"
            ),
        ),
        # symmetrized, deduped edge rows
        "connected_components": (
            2 * len(sparse),
            lambda cap: _sorted_rows(
                connected_components(sdf, driver_cap=cap), "node", "component"
            ),
        ),
        "approx_betweenness": (
            2 * len(rows),
            lambda cap: {
                r["name"]: round(r["centrality"], 4)
                for r in approx_betweenness(
                    edf, num_sources=6, driver_cap=cap
                ).collect()
            },
        ),
        # out-normalized edges (every source has positive weight)
        "pagerank": (
            len(rows),
            lambda cap: _rank_map(
                pagerank(edf, weight="weight", driver_cap=cap), "rank"
            ),
        ),
        "hits": (
            len(rows),
            lambda cap: _sorted_rows(
                hits(edf, weight="weight", driver_cap=cap),
                "name", "hub", "authority",
            ),
        ),
        # the half-size (undirected) edge frame
        "label_propagation": (
            len(rows),
            lambda cap: _sorted_rows(
                label_propagation(edf, max_iterations=6, driver_cap=cap),
                "node", "label",
            ),
        ),
        "modularity_refine": (
            len(rows),
            lambda cap: _sorted_rows(
                modularity_refine(edf, lab, driver_cap=cap, **refine_kw),
                "node", "label",
            ),
        ),
    }


@pytest.mark.parametrize(
    "op",
    [
        "canonical_map", "connected_components", "approx_betweenness",
        "pagerank", "hits", "label_propagation", "modularity_refine",
    ],
)
def test_gate_boundary_per_operator(gate_cases, caplog, monkeypatch, op):
    from graphrag_kb_server_spark.operators import hits as hits_module

    # five HITS rounds, not its 20: both paths run the same update rule,
    # and the distributed one pays a job group per round
    monkeypatch.setattr(hits_module, "ITERATIONS", 5)
    n, run = gate_cases[op]
    caplog.set_level(logging.INFO, logger=GATE_LOG)

    def decision(cap):
        caplog.clear()
        out = run(cap)
        recs = [
            r.args for r in caplog.records
            if r.name == GATE_LOG and r.args["op"] == op
        ]
        assert len(recs) == 1, recs
        return out, recs[0]

    drv, at_cap = decision(n)
    dist, below = decision(n - 1)
    assert at_cap == {"op": op, "probed_rows": n, "cap": n, "path": "driver"}
    assert below == {
        "op": op, "probed_rows": n, "cap": n - 1, "path": "distributed",
    }
    assert drv == dist
