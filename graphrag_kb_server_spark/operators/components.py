"""G3 — connected components via iterative hash-join label propagation.

Reference semantics: ``nx.connected_components`` sorted by size
(/root/reference/graphrag_kb_server/service/lightrag/lightrag_graph_support.py:151-164;
also the LCC step inside clustering at lightrag_clustering.py:236-247).
networkx is driver-bound; at web scale two formulations are provided:

- ``connected_components`` — min-label propagation with pointer
  jumping folded into each round (O(log d) rounds on diameter d).
  The default: entity-linking similarity graphs are short-diameter,
  and each round is one join + one agg + one self-join.
- ``connected_components_star`` — the alternating large-star/
  small-star algorithm (Kiveris et al., "Connected Components in
  MapReduce and Beyond", SoCC'14), converging in O(log² n) rounds
  independent of diameter. The EDGE SET shrinks toward stars as it
  runs (label propagation keeps a full neighbor join every round),
  which is the better shape for high-diameter / huge-component
  graphs at 100 TB.

Implementation notes for Spark:
- labels start as each node's own id (min-string semantics: component
  id = lexicographically smallest member — deterministic, matching the
  "stable ordering" the reference imposes on its clustering inputs).
- every round group ends in a LAZY ``localCheckpoint`` materialized by
  the convergence aggregate's own job — lineage is cut (iterative
  DataFrame plans otherwise grow exponentially in optimizer time and
  break at ~20 rounds) without paying a separate checkpoint action.
- convergence is checked every 2 rounds; a converged labeling is a
  fixpoint of the update rule so the extra round is the identity —
  same results, ~4x fewer driver round-trips than
  eager-checkpoint-plus-check-per-round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph_support import collect_if_small

#: round budget of connected_components, and the alternation budget of
#: connected_components_star
MAX_ITERATIONS = 50
#: k_core peel rounds per convergence check, and its round budget
K_CORE_STRIDE = 3
K_CORE_MAX_ROUNDS = 60


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "tgt",
    driver_cap: int = 100_000,
) -> DataFrame:
    """edges(src, tgt) → (node STRING, component STRING).

    component = min node id (string order) in the component. Isolated
    nodes only appear if present as self-edges or in the node set of
    ``edges``; callers union in singletons if needed.

    Up to ``driver_cap`` deduped, symmetrized edge rows the same
    min-label semantics run as driver-side union-find (see
    ``graph_support.collect_if_small``); 0 forces the distributed
    rounds. The cap bounds the collect (100k string pairs ≈ a few MB).
    Entity-similarity graphs from linking stay far below it even on
    web-scale corpora (they grow with the VOCABULARY of near-identical
    names, not the corpus), while web-scale graphs (g3 over billions
    of rows) stay distributed.
    """
    # symmetrize once; dedup to keep the iteration input minimal
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
    )
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    sym = sym.localCheckpoint(eager=True)

    pdf = collect_if_small(sym, driver_cap, "connected_components")
    if pdf is not None:
        parent: dict = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        # .tolist(): plain python str/int values, so min semantics and
        # createDataFrame typing match the legacy Row path exactly
        # (numpy scalars never reach the union-find)
        pairs = list(zip(pdf["a"].tolist(), pdf["b"].tolist()))
        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min keeps component id = min member
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        labels = sorted({a for a, _ in pairs})
        # preserve the caller's id type: numeric ids must keep numeric
        # min semantics end-to-end (a string cast would reorder "9" >
        # "10" and change every downstream min/join)
        from pyspark.sql import types as T

        dt = sym.schema["a"].dataType
        import pandas as pd

        # Arrow path for the return frame — the pickled-rows path costs
        # ~1s at 100k rows, the Arrow batch is near-free
        return sym.sparkSession.createDataFrame(
            pd.DataFrame(
                {"node": labels, "component": [find(n) for n in labels]}
            ),
            T.StructType(
                [T.StructField("node", dt), T.StructField("component", dt)]
            ),
        )

    # label(node) = min neighbor-or-self, iterated to fixpoint.
    # This is the simple "min-label propagation" formulation: each round
    # label_new(v) = min(label(v), min over neighbors u of label(u)).
    # Rounds ≈ log2(diameter) with the pointer jump below; for the
    # short-diameter similarity graphs of entity linking this beats the
    # constant-factor-heavier star alternation — for high-diameter
    # graphs use connected_components_star.
    labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    labels = labels.localCheckpoint(eager=True)

    # Round-latency control (mirrors label_propagation): lazy
    # checkpoint materialized by the convergence aggregate's own job
    # (one action per round group, not two), and rounds run in pairs
    # between convergence checks — a converged labeling is a fixpoint,
    # so the at-most-one extra round is the identity.
    check_every = 2
    it = 0
    converged = False
    while it < MAX_ITERATIONS:
        group = min(check_every, MAX_ITERATIONS - it)
        for _ in range(group):
            neigh = (
                sym.join(labels.withColumnRenamed("node", "b"), "b")
                .groupBy(F.col("a").alias("node"))
                .agg(F.min("label").alias("nlabel"))
            )
            stepped = labels.join(neigh, "node", "left").select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
                (
                    F.col("nlabel").isNotNull() & (F.col("nlabel") < F.col("label"))
                ).cast("int").alias("changed"),
            )
            # pointer jumping (label(v) <- label(label(v)) halves
            # remaining depth) folded into the SAME round plan
            jump = stepped.select(
                F.col("node").alias("label"), F.col("label").alias("jlabel")
            )
            new_labels = stepped.join(jump, "label", "left").select(
                "node",
                F.coalesce("jlabel", "label").alias("label"),
                "changed",
            )
            # per-round lazy checkpoint (same pattern as LPA's sweep
            # loop): within a group the next round references `labels`
            # twice (neigh + stepped) and self-joins `stepped` for the
            # pointer jump — un-checkpointed, the previous round's
            # subplan replays up to 4x per convergence check
            labels = new_labels.drop("changed").localCheckpoint(eager=False)
            it += 1
        ck = new_labels.localCheckpoint(eager=False)
        n_changed = ck.agg(F.sum("changed")).first()[0] or 0
        labels = ck.drop("changed")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ITERATIONS} "
            "rounds (labels still changing) — a partially-contracted "
            "labeling must not be mistaken for components; raise "
            "MAX_ITERATIONS (rounds ~ log2(diameter) with pointer jumping)"
        )

    return labels.select("node", F.col("label").alias("component"))


def connected_components_star(edges: DataFrame) -> DataFrame:
    """edges(src, tgt) → (node STRING, component STRING) via alternating
    large-star / small-star (Kiveris et al., SoCC'14). Same contract as
    ``connected_components`` (component = min member, string order).

    Why this shape at scale: every round REWRITES the edge set toward
    star graphs (child → component-min), so the data volume shrinks as
    it converges, rounds are O(log² n) regardless of diameter, and each
    round is two groupBy-min + joins on the current (shrinking) edge
    set. Convergence = the distinct edge set reaches a fixpoint,
    detected with a (count, xxhash64-xor) fingerprint — one aggregate
    action per round.
    """
    e = (
        edges.select(F.col("src").alias("a"), F.col("tgt").alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def large_star(cur: DataFrame) -> DataFrame:
        # Γ(u) over both orientations; connect strictly-larger neighbors
        # to m = min(Γ(u) ∪ {u})
        sym = cur.unionByName(
            cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = sym.groupBy("a").agg(F.min("b").alias("_mb"))
        m = F.least(F.col("_mb"), F.col("a"))
        return (
            sym.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), m.alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(cur: DataFrame) -> DataFrame:
        # orient child → parent (a > b), connect every neighbor and u
        # itself to m = min(Γ(u) ∪ {u}) = min neighbor (all are < u)
        ori = cur.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        mins = ori.groupBy("a").agg(F.min("b").alias("_m"))
        rewired = ori.join(mins, "a").select(
            F.col("b").alias("a"), F.col("_m").alias("b")
        )
        self_edges = mins.select("a", F.col("_m").alias("b"))
        return (
            rewired.unionByName(self_edges)
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    prev_fp = None
    converged = False
    for _ in range(MAX_ITERATIONS):
        # lazy checkpoint: the fingerprint aggregate's job materializes
        # it — one action per round, and lineage still resets
        e = small_star(large_star(e)).localCheckpoint(eager=False)
        # bit_xor, not sum: overflow-free under ANSI mode, and order-
        # independent over the (distinct) edge set
        fp = tuple(
            e.agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("a", "b")).alias("h"),
            ).first()
        )
        if fp == prev_fp:
            converged = True
            break
        prev_fp = fp
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not reach an edge-set "
            f"fixpoint in {MAX_ITERATIONS} alternations — the partial "
            "contraction is not a valid labeling; raise MAX_ITERATIONS"
        )

    # stars: every edge is (child, component-min); minima label themselves
    nodes = edges.select(F.col("src").alias("node")).unionByName(
        edges.select(F.col("tgt").alias("node"))
    ).where(F.col("node").isNotNull()).distinct()
    labels = e.groupBy(F.col("a").alias("node")).agg(
        F.min("b").alias("component")
    )
    return nodes.join(labels, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def component_sizes(components: DataFrame) -> DataFrame:
    """Components ranked by size desc (reference sorts by size,
    lightrag_graph_support.py:151-164)."""
    return (
        components.groupBy("component")
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.desc("size"), "component")
    )


def k_core(edges: DataFrame, k: int) -> DataFrame:
    """The k-core of an undirected graph edges(src, tgt): iteratively
    peel nodes of degree < k until none remain (Seidman 1983) — the
    web-graph density/spam primitive (link farms melt away below their
    core number; crawl seeds come from high cores).

    Returns ``(node, core_deg)`` — surviving nodes with their degree
    inside the core.

    Scale shape: each peel round is ONE map-side-combined degree
    aggregation plus two semi joins that drop edges incident to peeled
    nodes; per-round lazy localCheckpoints keep the plan linear, and
    the convergence check is BATCHED — one count action per
    ``K_CORE_STRIDE`` rounds. Peeling is monotone (edges only leave),
    so an unchanged edge count across a stride proves the fixpoint: the
    extra rounds past it are identity, the same argument the min-label
    CC loop uses. Worst-case rounds is the degeneracy peel depth — tiny for
    power-law web graphs (O(log n) in practice).
    """
    sym = (
        edges.select(F.col("src").alias("a"), F.col("tgt").alias("b"))
        .unionByName(
            edges.select(F.col("tgt").alias("a"), F.col("src").alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev = sym.count()
    cur = sym
    rounds = 0
    while rounds < K_CORE_MAX_ROUNDS:
        for _ in range(K_CORE_STRIDE):
            keep = (
                cur.groupBy("a")
                .agg(F.count(F.lit(1)).alias("_d"))
                .where(F.col("_d") >= k)
                .select("a")
            )
            cur = (
                cur.join(keep, "a", "left_semi")
                .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
                .select("a", "b")
                .localCheckpoint(eager=False)
            )
            rounds += 1
        n = cur.count()
        if n == prev:
            break
        prev = n
    else:
        raise RuntimeError(
            f"k_core did not converge within {K_CORE_MAX_ROUNDS} rounds"
        )
    return (
        cur.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("core_deg"))
        .orderBy(F.desc("core_deg"), "node")
    )
