"""G1 — centrality ranking.

Reference semantics: exact betweenness centrality over the whole graph
(rustworkx), sorted desc, persisted as TB_TOPICS_WITH_CENTRALITY
(/root/reference/graphrag_kb_server/service/lightrag/lightrag_centrality.py:21-54,
cache :72-85; consumed by candidate generation at
service/search/matching.py:77-80 and topics at
service/topic_generation.py:48-66).

Scale deviation (documented, SURVEY.md §2.3): exact betweenness is
O(V·E) and driver-bound — impossible at 10^12 docs. We provide:
- ``degree_centrality`` — one aggregation, the scalable default ranking;
- ``approx_betweenness`` — Brandes restricted to K sampled source nodes
  (the standard unbiased estimator: betweenness ≈ scaled sum of pair
  dependencies from sampled sources), run as K BFS waves expressed as
  iterative hash joins. Exact on small graphs when sources = all nodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph_support import collect_if_small

#: PageRank's damping factor d and its fixed iteration count
DAMPING = 0.85
ITERATIONS = 20


def degree_centrality(
    edges: DataFrame, nodes: DataFrame | None = None
) -> DataFrame:
    """(name, centrality) with centrality = degree / (n-1), ranked desc.

    Without ``nodes``, n counts only nodes incident to an edge. With a
    ``nodes`` frame the networkx convention applies (the one the
    reference's graph support uses over its loaded GraphML): the
    denominator counts ALL nodes and isolated nodes appear at 0.0.
    """
    deg = (
        edges.select(F.explode(F.array("src", "tgt")).alias("name"))
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    if nodes is not None:
        # lazy checkpoints: the coverage check below is an extra driver
        # action, and without them its take(3) would replay the full
        # edges scan + aggregation that the returned frame then pays
        # again — checkpointed, the check's action materializes deg and
        # all_nodes ONCE and the count + final join reuse them
        deg = deg.localCheckpoint(eager=False)
        all_nodes = (
            nodes.select("name")
            .distinct()
            .localCheckpoint(eager=False)
        )
        # inconsistent inputs (edge endpoints missing from the nodes
        # frame) must ERROR, not silently drop rows and skew the
        # denominator; the anti-join probes the already-aggregated
        # degree frame (#distinct endpoints, not #edges), so the check
        # is cheap relative to the aggregation that produced it
        bad = deg.join(all_nodes, "name", "left_anti").select("name").take(3)
        if bad:
            raise ValueError(
                "degree_centrality: edge endpoints absent from the nodes "
                f"frame, e.g. {[r['name'] for r in bad]} — pass a nodes "
                "frame covering every endpoint (or None to derive nodes "
                "from the edges)"
            )
        n = all_nodes.count()
        deg = all_nodes.join(deg, "name", "left").select(
            "name", F.coalesce("degree", F.lit(0)).alias("degree")
        )
    else:
        # zero-driver-action formulation: the denominator rides the
        # plan as a 1-row broadcast instead of a separate count() job
        # (max(n-1,1) == greatest(count-1, 1), same float division).
        # The lazy checkpoint still shares ONE computation of deg
        # between the denominator aggregate and the output rows.
        deg = deg.localCheckpoint(eager=False)
        denom_df = deg.agg(
            F.greatest(F.count(F.lit(1)) - F.lit(1), F.lit(1))
            .cast("double")
            .alias("_denom")
        )
        return (
            deg.crossJoin(F.broadcast(denom_df))
            .select(
                "name",
                (F.col("degree") / F.col("_denom")).alias("centrality"),
            )
            .orderBy(F.desc("centrality"), "name")
        )
    denom = float(max(n - 1, 1))
    return deg.select(
        "name", (F.col("degree") / F.lit(denom)).alias("centrality")
    ).orderBy(F.desc("centrality"), "name")


def _betweenness_driver(
    spark, sym_pdf, num_sources: int | None, seed: int, max_depth: int,
    name_dt,
) -> DataFrame:
    """Driver-side twin of the batched-BFS Brandes rounds for small
    graphs: same seeded md5 source draw, same ≤max_depth level
    truncation, same dependency rule delta(v) += σ(v)/σ(w)·(1+delta(w))
    over (level d → d−1) adjacencies, same undirected /2 halving.
    σ values are integer-valued path counts (exact in doubles); the
    delta accumulation order differs from the distributed shuffle sums
    only at float ULP level, which the callers' 4-dp rounding absorbs
    (the DuckDB oracles already tolerate the distributed path's own
    nondeterministic sum order)."""
    import hashlib
    from collections import defaultdict

    from pyspark.sql import types as T

    adj: dict = defaultdict(list)
    for a, b in zip(sym_pdf["a"], sym_pdf["b"]):
        adj[a].append(b)
    nodes = sorted(adj)
    if num_sources is None:
        sources = nodes
    else:
        sources = sorted(
            nodes,
            key=lambda n: hashlib.md5(
                (str(seed) + n).encode("utf-8")
            ).hexdigest(),
        )[:num_sources]
    scores: dict = defaultdict(float)
    for s in sources:
        dist = {s: 0}
        sigma = {s: 1.0}
        levels = [[s]]
        frontier = [s]
        d = 0
        while frontier and d < max_depth:
            d += 1
            nxt: list = []
            for v in levels[-1]:
                for w in adj[v]:
                    if w not in dist:
                        dist[w] = d
                        sigma[w] = 0.0
                        nxt.append(w)
            if not nxt:
                break
            for v in levels[-1]:
                sv = sigma[v]
                for w in adj[v]:
                    if dist.get(w) == d:
                        sigma[w] += sv
            levels.append(nxt)
        delta: dict = defaultdict(float)
        for d in range(len(levels) - 1, 0, -1):
            for w in levels[d]:
                dw = 1.0 + delta[w]
                sw = sigma[w]
                for p in adj[w]:
                    if dist.get(p) == d - 1:
                        delta[p] += sigma[p] / sw * dw
            for v in levels[d - 1]:
                if v != s:
                    scores[v] += delta[v]
    rows = [
        (n, scores.get(n, 0.0) / 2.0)
        for n in nodes
    ]
    rows.sort(key=lambda r: (-r[1], r[0]))
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("name", name_dt),
                T.StructField("centrality", T.DoubleType()),
            ]
        ),
    )


def approx_betweenness(
    edges: DataFrame,
    num_sources: int | None = 16,
    seed: int = 42,
    max_depth: int = 12,
    driver_cap: int = 200_000,
) -> DataFrame:
    """Sampled-source betweenness over the undirected graph.

    Driver-side per-source accumulation is avoided: each wave is a
    DataFrame of (source, node, dist, sigma) frontier rows for ALL
    sampled sources simultaneously — one BFS whose key is
    (source, node), i.e. K BFS runs batched into single joins.
    The dependency back-propagation runs depth-many joins in reverse.
    """
    # Round-latency control: ONE driver action per BFS level — the
    # frontier's lazy localCheckpoint is materialized by the loop-
    # control count() itself — and the backward pass runs zero actions
    # (every per-level delta is a lazy checkpoint; the caller's single
    # action materializes the whole chain, each level persisting as it
    # computes, lineage still truncated per level).
    e = edges.select(F.col("src").alias("a"), F.col("tgt").alias("b"))
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    sym = sym.localCheckpoint(eager=False)

    # Driver twin (see graph_support.collect_if_small): each
    # distributed BFS level is 2 joins + an aggregation and the backward
    # pass 3 joins per level — ~40 shuffle stages of scheduling for a
    # graph whose Brandes rounds take milliseconds in-process. The cap
    # counts symmetrized edge rows; string ids only (the md5 source draw
    # must hash the same bytes on both paths).
    is_str = sym.schema["a"].dataType.simpleString() == "string"
    pdf = collect_if_small(sym, driver_cap if is_str else 0, "approx_betweenness")
    if pdf is not None:
        return _betweenness_driver(
            edges.sparkSession, pdf, num_sources, seed, max_depth,
            sym.schema["a"].dataType,
        )

    nodes = sym.select(F.col("a").alias("name")).distinct()

    if num_sources is None:
        sources = nodes.select(F.col("name").alias("source"))
    else:
        # seeded deterministic sample: smallest K by md5(seed || name)
        sources = (
            nodes.withColumn("_h", F.md5(F.concat(F.lit(str(seed)), F.col("name"))))
            .orderBy("_h")
            .limit(num_sources)
            .select(F.col("name").alias("source"))
        )
    sources = sources.localCheckpoint(eager=False)

    # forward BFS: levels[d] = (source, node, sigma) at distance d
    frontier = sources.select(
        "source", F.col("source").alias("node"), F.lit(1.0).alias("sigma")
    ).localCheckpoint(eager=False)
    # visited = union of the (individually checkpointed) levels: a flat
    # plan of cached-RDD scans — no checkpoint of its own needed
    visited = frontier.select("source", "node")
    levels = [frontier.withColumn("dist", F.lit(0))]
    # Batched loop control: build _STRIDE levels lazily, then ONE
    # collect of their per-level counts (a union of empty-groupBy
    # aggregates — a single job whose stages materialize every lazy
    # checkpoint in the group). A frontier that empties mid-group only
    # wastes the (empty-input, therefore near-free) joins of the
    # group's tail; the counts tell us exactly which trailing levels to
    # discard, so the result is identical to the per-level check while
    # paying ceil(depth/_STRIDE) driver actions instead of depth.
    _STRIDE = 3
    d = 1
    while d <= max_depth:
        group: list[DataFrame] = []
        for _ in range(_STRIDE):
            if d > max_depth:
                break
            nxt = (
                frontier.join(sym.withColumnRenamed("a", "node"), "node")
                .select("source", F.col("b").alias("node"), "sigma")
                .join(
                    visited.withColumn("_seen", F.lit(1)),
                    ["source", "node"],
                    "left",
                )
                .where(F.col("_seen").isNull())
                .groupBy("source", "node")
                .agg(F.sum("sigma").alias("sigma"))
            ).localCheckpoint(eager=False)
            group.append(nxt.withColumn("dist", F.lit(d)))
            visited = visited.unionByName(nxt.select("source", "node"))
            frontier = nxt.select("source", "node", "sigma")
            d += 1
        stats = group[0].groupBy().agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(0).alias("i"), "n"
        )
        for j, lvl in enumerate(group[1:], start=1):
            stats = stats.unionByName(
                lvl.groupBy()
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.lit(j).alias("i"), "n")
            )
        counts = {r["i"]: r["n"] for r in stats.collect()}
        emptied = False
        for j, lvl in enumerate(group):
            if counts[j] == 0:
                emptied = True
                break
            levels.append(lvl)
        if emptied:
            break

    # backward accumulation: delta(v) = sum over successors w of
    # sigma(v)/sigma(w) * (1 + delta(w))
    delta = levels[-1].select(
        "source", "node", "sigma", F.lit(0.0).alias("delta")
    )
    acc = None
    for d in range(len(levels) - 1, 0, -1):
        preds = levels[d - 1].select(
            "source", F.col("node").alias("pnode"), F.col("sigma").alias("psigma")
        )
        contrib = (
            delta.join(sym.withColumnRenamed("a", "node"), "node")
            .select("source", F.col("b").alias("pnode"), "node", "sigma", "delta")
            .join(preds, ["source", "pnode"])
            .groupBy("source", F.col("pnode").alias("node"))
            .agg(
                F.sum(
                    F.col("psigma") / F.col("sigma") * (F.lit(1.0) + F.col("delta"))
                ).alias("delta")
            )
        )
        prev = levels[d - 1].select("source", "node", "sigma")
        delta = (
            prev.join(contrib, ["source", "node"], "left")
            .select("source", "node", "sigma", F.coalesce("delta", F.lit(0.0)).alias("delta"))
        ).localCheckpoint(eager=False)
        part = delta.where(F.col("node") != F.col("source")).select("node", "delta")
        acc = part if acc is None else acc.unionByName(part)

    if acc is None:
        return nodes.select(F.col("name"), F.lit(0.0).alias("centrality"))
    scores = acc.groupBy(F.col("node").alias("name")).agg(
        (F.sum("delta") / F.lit(2.0)).alias("centrality")  # undirected halving
    )
    return (
        nodes.join(scores, "name", "left")
        .select("name", F.coalesce("centrality", F.lit(0.0)).alias("centrality"))
        .orderBy(F.desc("centrality"), "name")
    )


def centrality_table(nodes: DataFrame, centrality: DataFrame) -> DataFrame:
    """The TB_TOPICS_WITH_CENTRALITY materialization shape
    (db_persistence_topics_centrality.py:21-42): entity attrs + score."""
    return (
        nodes.join(centrality, "name")
        .select(
            F.col("name").alias("entity_id"),
            F.col("type").alias("entity_type"),
            "description",
            F.col("centrality").cast("double"),
        )
        .orderBy(F.desc("centrality"), "entity_id")
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "src",
    dst: str = "tgt",
    weight: str | None = None,
    driver_cap: int = 200_000,
) -> DataFrame:
    """Directed PageRank (Page et al. 1999) with uniform teleport and
    dangling-mass redistribution — the web-graph companion to the
    reference's betweenness ranking (same consumer shape: a
    ``(name, centrality)`` frame, sorted desc).

    ``nodes`` (optional, one ``name`` column) pins the vertex set so
    isolated pages keep their teleport share; default = distinct edge
    endpoints. ``weight`` makes contributions proportional to edge
    weight instead of 1/out_degree.

    Returns ``(name, rank)`` with ``sum(rank) = 1``; fixed iteration
    count ``ITERATIONS`` for determinism (20 ≈ the classic convergence
    budget at ``DAMPING`` d = 0.85).

    Shape at 100 TB: per iteration ONE shuffle — the contribution sum
    keyed on the destination (partial-aggregated; a 10^9-in-degree hub
    combines map-side). The rank⋈edges join keys both sides on the
    SOURCE (ranks re-partition once; edges stay put via the eager
    checkpoint), the dangling mass is a 1-ROW aggregate broadcast back
    in (no per-round driver collect), and lazy localCheckpoints keep
    the logical plan linear with one driver action per
    ``_PR_STRIDE`` rounds — the betweenness/LPA schedule.

    Up to ``driver_cap`` normalized edges (``frac`` rows) the rounds
    are scheduling-bound and run driver-side (see
    ``graph_support.collect_if_small``): the SAME update rule on
    float64; summation order differs by at most the usual 1e-15 float
    reassociation (callers round ranks for comparison anyway). 0 forces
    the distributed rounds (kept continuously oracled by
    ``g1_pagerank_distributed``).
    """
    w = (
        F.col(weight).cast("double")
        if weight is not None
        else F.lit(1.0)
    )
    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_t"), w.alias("_w")
    )
    if nodes is None:
        all_nodes = (
            e.select(F.col("_s").alias("name"))
            .unionByName(e.select(F.col("_t").alias("name")))
            .distinct()
        )
    else:
        all_nodes = nodes.select("name").distinct()
    # out-normalized edges: contribution fraction per (src, dst).
    # Sources whose total edge weight is 0 are excluded HERE so they
    # fall into the dangling anti-join below instead of producing
    # NULL/NaN fractions that silently destroy rank mass (ADVICE r5).
    out_tot = e.groupBy("_s").agg(F.sum("_w").alias("_tot")).where(
        F.col("_tot") != 0
    )
    # LAZY checkpoints: the counts just below are the first actions and
    # materialize them — eager=True here would pay two extra driver
    # jobs for the same materialization
    frac = (
        e.join(out_tot, "_s")
        .select("_s", "_t", (F.col("_w") / F.col("_tot")).alias("_f"))
        .localCheckpoint(eager=False)
    )
    all_nodes = all_nodes.localCheckpoint(eager=False)
    # the driver path derives its own dangling mask from the collected
    # frac (has_out), so the dangling frame below is only built for the
    # distributed rounds
    frac_pd = collect_if_small(frac, driver_cap, "pagerank")
    if frac_pd is not None:
        nodes_pd = all_nodes.toPandas()
        n = len(nodes_pd)
        if n == 0:
            return all_nodes.select(F.col("name"), F.lit(0.0).alias("rank"))
        return _pagerank_driver(
            edges.sparkSession, all_nodes, nodes_pd, frac_pd, n
        )
    n = all_nodes.count()
    if n == 0:
        return all_nodes.select(
            F.col("name"), F.lit(0.0).alias("rank")
        )

    # dangling = nodes with no out-edge (weight-sum 0 counts as none —
    # zero-total sources were filtered out of out_tot above)
    dangling = all_nodes.join(
        frac.select(F.col("_s").alias("name")).distinct(),
        "name",
        "left_anti",
    ).localCheckpoint(eager=True)

    ranks = all_nodes.select(
        "name", (F.lit(1.0) / F.lit(float(n))).alias("rank")
    ).localCheckpoint(eager=False)

    _PR_STRIDE = 5
    base = (1.0 - DAMPING) / n
    for it in range(ITERATIONS):
        dm = (
            ranks.join(dangling, "name", "left_semi")
            .groupBy()
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
        )
        contrib = (
            ranks.withColumnRenamed("name", "_s")
            .join(frac, "_s")
            .groupBy(F.col("_t").alias("name"))
            .agg(F.sum(F.col("rank") * F.col("_f")).alias("_c"))
        )
        ranks = (
            all_nodes.join(contrib, "name", "left")
            .crossJoin(F.broadcast(dm))
            .select(
                "name",
                (
                    F.lit(base)
                    + F.lit(DAMPING)
                    * (
                        F.coalesce(F.col("_c"), F.lit(0.0))
                        + F.col("_dm") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
        ).localCheckpoint(eager=False)
        if (it + 1) % _PR_STRIDE == 0 and it + 1 < ITERATIONS:
            ranks.count()  # materialize the lazy-checkpoint group
    return ranks.orderBy(F.desc("rank"), "name")


def _pagerank_driver(
    spark, all_nodes: DataFrame, nodes_pd, e_pd, n: int
) -> DataFrame:
    """Collected power iteration for sub-threshold graphs — same
    update rule as the distributed rounds, numpy scatter-add instead
    of a shuffle. Takes the already-collected nodes/frac pandas frames
    (the caller's limit-probe collect); preserves the caller's name
    dtype by building the result on the nodes frame's own schema."""
    import numpy as np
    from pyspark.sql import types as T

    names = nodes_pd["name"].tolist()
    idx = {v: i for i, v in enumerate(names)}
    s = np.fromiter((idx[v] for v in e_pd["_s"].tolist()), dtype=np.int64,
                    count=len(e_pd))
    t = np.fromiter((idx[v] for v in e_pd["_t"].tolist()), dtype=np.int64,
                    count=len(e_pd))
    f = e_pd["_f"].to_numpy(dtype=np.float64)
    has_out = np.zeros(n, dtype=bool)
    has_out[s] = True
    ranks = np.full(n, 1.0 / n, dtype=np.float64)
    base = (1.0 - DAMPING) / n
    for _ in range(ITERATIONS):
        dm = float(ranks[~has_out].sum())
        contrib = np.zeros(n, dtype=np.float64)
        np.add.at(contrib, t, ranks[s] * f)
        ranks = base + DAMPING * (contrib + dm / n)
    nodes_pd = nodes_pd.assign(rank=ranks)
    schema = T.StructType(
        list(all_nodes.schema.fields)
        + [T.StructField("rank", T.DoubleType(), False)]
    )
    return spark.createDataFrame(nodes_pd, schema=schema).orderBy(
        F.desc("rank"), "name"
    )
