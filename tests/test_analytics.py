import networkx as nx
from pyspark.sql import Window
from pyspark.sql import functions as F

from graphrag_kb_server_spark.operators.centrality import (
    approx_betweenness,
    degree_centrality,
)
from graphrag_kb_server_spark.operators.communities import (
    hierarchical_communities,
    label_propagation,
    largest_connected_component,
)
from graphrag_kb_server_spark.operators.components import (
    component_sizes,
    connected_components,
    connected_components_star,
)
from graphrag_kb_server_spark.operators.walks import (
    panther_similarity,
    random_walk_with_restart,
)


def _edges(spark, pairs, weights=None):
    rows = [
        (a, b, float(weights[i]) if weights else 1.0)
        for i, (a, b) in enumerate(pairs)
    ]
    return spark.createDataFrame(rows, "src string, tgt string, weight double")


def test_connected_components_vs_networkx(spark):
    pairs = [("a", "b"), ("b", "c"), ("d", "e"), ("f", "g"), ("g", "h"), ("h", "f"), ("i", "a")]
    comp = connected_components(_edges(spark, pairs)).collect()
    got = {}
    for r in comp:
        got.setdefault(r["component"], set()).add(r["node"])
    g = nx.Graph(pairs)
    expected = {frozenset(c) for c in nx.connected_components(g)}
    assert {frozenset(v) for v in got.values()} == expected
    # component id = min member
    for cid, members in got.items():
        assert cid == min(members)
    sizes = component_sizes(connected_components(_edges(spark, pairs))).collect()
    assert [r["size"] for r in sizes] == [4, 3, 2]


def test_connected_components_long_chain(spark):
    # chain of 40 nodes exercises pointer jumping + checkpointing
    pairs = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(40)]
    comp = connected_components(_edges(spark, pairs))
    assert comp.select("component").distinct().count() == 1
    assert comp.count() == 41


def test_connected_components_small_graph_path_agrees(spark):
    """The size-adaptive driver-side union-find (edge set under the
    threshold) produces exactly the distributed loop's labeling."""
    pairs = [("a", "b"), ("b", "c"), ("d", "e"), ("f", "g"), ("g", "h"),
             ("h", "f"), ("i", "a"), ("x", "y")]
    e = _edges(spark, pairs)
    fast = {(r["node"], r["component"])
            for r in connected_components(e).collect()}
    dist = {(r["node"], r["component"])
            for r in connected_components(e, driver_cap=0).collect()}
    assert fast == dist


def test_connected_components_star_matches_networkx(spark):
    """large-star/small-star (Kiveris et al.) produces the identical
    (node, component=min member) labeling on mixed small components."""
    pairs = [("a", "b"), ("b", "c"), ("d", "e"), ("f", "g"), ("g", "h"),
             ("h", "f"), ("i", "a")]
    comp = connected_components_star(_edges(spark, pairs)).collect()
    got = {}
    for r in comp:
        got.setdefault(r["component"], set()).add(r["node"])
    expected = {frozenset(c) for c in nx.connected_components(nx.Graph(pairs))}
    assert {frozenset(v) for v in got.values()} == expected
    for cid, members in got.items():
        assert cid == min(members)


def test_connected_components_star_long_chain(spark, monkeypatch):
    """The high-diameter case the star alternation exists for: a
    60-node chain converges to one star labeled by the min node, in
    far fewer than diameter rounds, and agrees with min-label CC."""
    from graphrag_kb_server_spark.operators import components

    monkeypatch.setattr(components, "MAX_ITERATIONS", 12)
    pairs = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(60)]
    e = _edges(spark, pairs)
    star = {(r["node"], r["component"])
            for r in connected_components_star(e).collect()}
    monkeypatch.undo()
    assert star == {(f"n{i:02d}", "n00") for i in range(61)}
    label = {(r["node"], r["component"])
             for r in connected_components(e).collect()}
    assert star == label


def test_degree_centrality_ranking(spark):
    pairs = [("hub", x) for x in ["a", "b", "c", "d"]] + [("a", "b")]
    out = degree_centrality(_edges(spark, pairs)).collect()
    assert out[0]["name"] == "hub"
    assert abs(out[0]["centrality"] - 4 / 4) < 1e-9  # n=5 → denom 4


def test_approx_betweenness_matches_networkx_when_exhaustive(spark):
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("b", "d"), ("d", "e")]
    out = {
        r["name"]: r["centrality"]
        for r in approx_betweenness(_edges(spark, pairs), num_sources=None).collect()
    }
    g = nx.Graph(pairs)
    exp = nx.betweenness_centrality(g, normalized=False)
    for k, v in exp.items():
        assert abs(out[k] - v) < 1e-6, (k, out[k], v)


def test_label_propagation_two_cliques(spark):
    clique1 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    clique2 = [(a, b) for a in "wxyz" for b in "wxyz" if a < b]
    bridge = [("d", "w")]
    labels = label_propagation(_edges(spark, clique1 + clique2 + bridge))
    got = {r["node"]: r["label"] for r in labels.collect()}
    assert len({got[c] for c in "abc"}) == 1
    assert len({got[c] for c in "xyz"}) == 1
    assert got["a"] != got["z"]


def test_hierarchical_communities_max_size(spark):
    # one 12-clique must be split at max_cluster_size=5
    nodes = [f"v{i:02d}" for i in range(12)]
    pairs = [(a, b) for a in nodes for b in nodes if a < b]
    asg = hierarchical_communities(_edges(spark, pairs), max_cluster_size=5)
    final = asg.withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("node").orderBy(F.desc("level"))),
    ).where("rk = 1")
    sizes = final.groupBy("cluster").count().collect()
    assert all(r["count"] <= 5 for r in sizes)


def test_lcc(spark):
    pairs = [("a", "b"), ("b", "c"), ("x", "y")]
    lcc = {r["node"] for r in largest_connected_component(_edges(spark, pairs)).collect()}
    assert lcc == {"a", "b", "c"}


def test_hierarchical_communities_lcc_gating(spark):
    """The reference clusters over the largest connected component only
    (lightrag_clustering.py:236-247): clustering input == LCC node set;
    nodes outside the LCC get no assignment."""
    clique = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    island = [("x", "y"), ("y", "z")]
    edges = _edges(spark, clique + island)
    asg = hierarchical_communities(edges, max_cluster_size=10)
    assigned = {r["node"] for r in asg.select("node").distinct().collect()}
    lcc = {r["node"] for r in largest_connected_component(edges).collect()}
    assert assigned == lcc == set("abcd")


def test_random_walk_with_restart(spark):
    # star graph: neighbors of hub get visited most
    pairs = [("hub", x) for x in ["a", "b", "c"]] + [("far1", "far2")]
    out = random_walk_with_restart(
        _edges(spark, pairs), "hub", samples=60, path_length=6, topk=5
    ).collect()
    names = [r["name"] for r in out]
    assert set(names) <= {"a", "b", "c"}
    assert sum(r["score"] for r in out) <= 1.0
    # determinism
    out2 = random_walk_with_restart(
        _edges(spark, pairs), "hub", samples=60, path_length=6, topk=5
    ).collect()
    assert out == out2


def test_panther_similarity(spark):
    clique = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    out = panther_similarity(_edges(spark, clique + [("d", "e")]), "a", k=3)
    names = [r["name"] for r in out.collect()]
    assert len(names) > 0
    assert set(names) <= {"b", "c", "d", "e"}


def test_pagerank_properties_and_weights(spark):
    """Ranks sum to 1 (dangling mass conserved), the in-link hub wins,
    the golden twin agrees, and edge weights steer the mass."""
    from graphrag_kb_server_spark.golden import golden_pagerank, synth_digraph_edges
    from graphrag_kb_server_spark.operators.centrality import pagerank

    n = 60
    edges = spark.createDataFrame(
        synth_digraph_edges(n), "src int, tgt int"
    )
    nodes = spark.range(n).select(F.col("id").cast("int").alias("name"))
    got = {r["name"]: r["rank"] for r in pagerank(edges, nodes=nodes).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    want = dict(zip(golden_pagerank(n)["node"], golden_pagerank(n)["pr"]))
    assert all(abs(got[k] - want[k]) < 1e-6 for k in want)

    # weights: b gets 9x a's share from s → must outrank it
    w = spark.createDataFrame(
        [("s", "a", 1.0), ("s", "b", 9.0), ("a", "s", 1.0), ("b", "s", 1.0)],
        "src string, tgt string, w double",
    )
    wr = {r["name"]: r["rank"] for r in pagerank(w, weight="w").collect()}
    assert wr["b"] > wr["a"]
    assert abs(sum(wr.values()) - 1.0) < 1e-9


def test_host_graph_semantics(spark):
    """In-page duplicate URLs collapse to weight 1, trailing
    punctuation is stripped, intra-host links are dropped, hosts
    lowercase."""
    from graphrag_kb_server_spark.operators.webgraph import host_graph

    pages = spark.createDataFrame(
        [
            ("https://A.example.com/p1",
             "See https://b.example.com/x, and https://b.example.com/x "
             "again plus https://A.example.com/self and http://c.org/y."),
            ("https://a.example.com/p2", "Also https://b.example.com/z"),
        ],
        "url string, text string",
    )
    got = {
        (r["src_host"], r["dst_host"]): r["weight"]
        for r in host_graph(pages).collect()
    }
    # page 1: b.example.com once (dup collapsed), c.org once, self dropped
    # page 2: b.example.com once more
    assert got == {
        ("a.example.com", "b.example.com"): 2,
        ("a.example.com", "c.org"): 1,
    }


def test_hits_ranking_and_paths_agree(spark, monkeypatch):
    """Kleinberg sanity on a hand graph (h1 links both authorities →
    top hub; a1 has two in-links → top authority) and the forced-
    distributed rounds must equal the driver path exactly at 6 dp."""
    from graphrag_kb_server_spark.operators import hits as hits_module
    from graphrag_kb_server_spark.operators.hits import hits

    monkeypatch.setattr(hits_module, "ITERATIONS", 5)
    edges = spark.createDataFrame(
        [("h1", "a1", 1.0), ("h1", "a2", 1.0), ("h2", "a1", 1.0)],
        "src string, tgt string, w double",
    )
    drv = hits(edges, weight="w")
    dist = hits(edges, weight="w", driver_cap=0)
    d = {r.name: (r.hub, r.authority) for r in drv.collect()}
    x = {r.name: (r.hub, r.authority) for r in dist.collect()}
    assert d == x
    assert d["h1"][0] > d["h2"][0] > 0.0
    assert d["a1"][1] > d["a2"][1] > 0.0
    assert d["a1"][0] == 0.0 and d["h1"][1] == 0.0
    # L2 normalization
    assert abs(sum(v[0] ** 2 for v in d.values()) - 1.0) < 1e-4
    assert abs(sum(v[1] ** 2 for v in d.values()) - 1.0) < 1e-4


def test_k_core_peeling(spark):
    """Hand graph: a 4-clique with pendant chains — the 3-core is
    exactly the clique (chains peel over multiple rounds); the 2-core
    adds the attached triangle."""
    from graphrag_kb_server_spark.operators.components import k_core

    edges = [
        # 4-clique a,b,c,d
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
        ("c", "d"),
        # triangle d-e-f (2-core but not 3-core)
        ("d", "e"), ("e", "f"), ("f", "d"),
        # pendant chain off a: a-p1-p2-p3 (peels in 3 rounds at k=2)
        ("a", "p1"), ("p1", "p2"), ("p2", "p3"),
    ]
    e = spark.createDataFrame(edges, "src string, tgt string")
    core3 = {r.node: r.core_deg for r in k_core(e, 3).collect()}
    assert core3 == {"a": 3, "b": 3, "c": 3, "d": 3}
    core2 = {r.node: r.core_deg for r in k_core(e, 2).collect()}
    assert set(core2) == {"a", "b", "c", "d", "e", "f"}
    assert core2["e"] == 2 and core2["d"] == 5
    # empty core
    assert k_core(e, 4).count() == 0


def test_triangle_counts_hand_graph(spark):
    """K4 on a,b,c,d (every node: 3 triangles, clustering 1.0) plus a
    pendant edge d-e and an open wedge e-f, e-g (no triangle)."""
    from graphrag_kb_server_spark.operators.triangles import (
        triangle_counts,
    )

    edges = [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
        ("c", "d"), ("d", "e"), ("e", "f"), ("e", "g"),
        # duplicate + reversed + self-loop noise must be ignored
        ("b", "a"), ("a", "b"), ("a", "a"),
    ]
    e = spark.createDataFrame(edges, "src string, tgt string")
    out = {r.node: r for r in triangle_counts(e).collect()}
    for n in "abc":
        assert out[n].triangles == 3 and out[n].clustering == 1.0
    assert out["d"].triangles == 3 and out["d"].degree == 4
    assert abs(out["d"].clustering - round(6 / 12, 6)) < 1e-9
    assert out["e"].triangles == 0 and out["e"].clustering == 0.0
    assert out["f"].triangles == 0 and out["f"].degree == 1


def test_funnel_strict_ordering(spark):
    """A user whose purchase precedes the view does NOT convert; a
    properly ordered user converts through all steps."""
    from graphrag_kb_server_spark.operators.funnel import funnel

    rows = [
        # u1: view -> click -> purchase (full conversion)
        (1, "2026-01-01 10:00:00", "view"),
        (1, "2026-01-01 10:05:00", "click"),
        (1, "2026-01-01 10:10:00", "purchase"),
        # u2: purchase BEFORE view -> stops at view
        (2, "2026-01-01 09:00:00", "purchase"),
        (2, "2026-01-01 10:00:00", "view"),
        # u3: view -> click only
        (3, "2026-01-01 11:00:00", "view"),
        (3, "2026-01-01 11:01:00", "click"),
        # u4: click only (no view): never enters
        (4, "2026-01-01 12:00:00", "click"),
    ]
    ev = spark.createDataFrame(
        [(u, t, ty) for u, t, ty in rows],
        "user_id long, ts string, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.step: r.n_users for r in
           funnel(ev, ["view", "click", "purchase"]).collect()}
    assert out == {"view": 3, "click": 2, "purchase": 1}


def test_label_spread_two_blobs(spark):
    """Two chain components, one seed each: every node adopts its
    component's seed label; an isolated unreachable pair stays NULL."""
    from graphrag_kb_server_spark.operators.labelspread import (
        label_spread,
    )

    edges = spark.createDataFrame(
        [("a1", "a2"), ("a2", "a3"), ("a3", "a4"),
         ("b1", "b2"), ("b2", "b3"),
         ("c1", "c2")],  # no seed in this component
        "src string, tgt string",
    )
    seeds = spark.createDataFrame(
        [("a1", "pos"), ("b1", "neg")], "node string, label string")
    out = {r.node: (r.pred_label, r.score) for r in
           label_spread(edges, seeds, iters=6).collect()}
    for n in ("a1", "a2", "a3", "a4"):
        assert out[n][0] == "pos", (n, out[n])
    for n in ("b1", "b2", "b3"):
        assert out[n][0] == "neg"
    assert out["c1"][0] is None and out["c2"][0] is None
    # seed holds the strongest mass of its own label
    assert out["a1"][1] > out["a4"][1]


def test_adamic_adar(spark):
    """Hand graph: x and y share two neighbors (m1 deg 2, m2 deg 3);
    AA(x,y) = 1/ln(2) + 1/ln(3); existing edges excluded."""
    import math

    from graphrag_kb_server_spark.operators.triangles import adamic_adar

    edges = [
        ("x", "m1"), ("y", "m1"),            # m1 deg 2
        ("x", "m2"), ("y", "m2"), ("z", "m2"),  # m2 deg 3
        ("x", "z"),                           # existing edge x-z
    ]
    e = spark.createDataFrame(edges, "src string, tgt string")
    out = {(r.a, r.b): r.aa for r in adamic_adar(e, top_k=20).collect()}
    want_xy = round(1 / math.log(2) + 1 / math.log(3), 6)
    assert out[("x", "y")] == want_xy
    assert ("x", "z") not in out          # existing edge
    assert out[("y", "z")] == round(1 / math.log(3), 6)  # via m2 only
