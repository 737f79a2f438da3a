"""G4/G5 — random-walk-with-restart similarity and Panther-style
path-sampling similarity.

Reference semantics: from a source node, ``samples`` walks of
``path_length`` steps with restart prob 0.15; score(node) =
visit_frequency / (samples * path_length); top-k; multi-run rerank sums
probabilities over ``runs=10``
(/root/reference/graphrag_kb_server/service/similar_topics.py:57-88,
:22-54, :187-204; Panther variant
service/lightrag/lightrag_related_topics.py:20-43).

Spark design: ALL walks advance simultaneously as one DataFrame of
(walk_id, cur_node) joined per step against the adjacency list — an
iterative hash join, not a driver loop over walks. Randomness is
deterministic: the step choice is ``md5(SEED, walk_id, step)`` reduced
mod the node's degree, picking the i-th neighbor in sorted order —
reproducible for any partitioning (no rand() whose draw order would
depend on physical row order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.windows import bounded_global

#: the seed every walk's step hash starts from
SEED = 42
#: a walk restarts at the source with this probability per step
RESTART_PROB = 0.15


def _adjacency(edges: DataFrame) -> DataFrame:
    """(node, neighbors ARRAY<STRING> sorted, degree)"""
    e = edges.select(F.col("src").alias("a"), F.col("tgt").alias("b"))
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    return sym.groupBy(F.col("a").alias("node")).agg(
        F.array_sort(F.collect_set("b")).alias("neighbors")
    ).withColumn("degree", F.size("neighbors"))


def random_walk_with_restart(
    edges: DataFrame,
    source: str,
    samples: int = 100,
    path_length: int = 10,
    topk: int = 10,
) -> DataFrame:
    """→ (name, score) top-k nodes by visit frequency.

    All per-step checkpoints are LAZY: the walk loop issues zero driver
    actions — the caller's single action materializes the whole chain,
    each step persisting (and cutting lineage) as it computes, and the
    visits union reuses the persisted step RDDs."""
    spark = edges.sparkSession
    adj = _adjacency(edges).localCheckpoint(eager=False)

    walks = spark.range(samples).select(
        F.col("id").alias("walk_id"), F.lit(source).alias("node")
    )
    visits: list[DataFrame] = []
    cur = walks
    for step in range(path_length):
        stepped = (
            cur.join(adj, "node")
            .withColumn(
                "_h",
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(":", F.lit(str(SEED)), "walk_id", F.lit(str(step)))
                        ),
                        1,
                        12,
                    ),
                    16,
                    10,
                ).cast("bigint"),
            )
            .withColumn("_restart", (F.pmod(F.col("_h"), F.lit(100)) < int(RESTART_PROB * 100)))
            .withColumn(
                "node",
                F.when(F.col("_restart"), F.lit(source)).otherwise(
                    F.element_at(
                        "neighbors",
                        (F.pmod(F.col("_h"), F.col("degree")) + 1).cast("int"),
                    )
                ),
            )
            .select("walk_id", "node")
        ).localCheckpoint(eager=False)
        visits.append(stepped)
        cur = stepped

    allv = visits[0]
    for v in visits[1:]:
        allv = allv.unionByName(v)
    denom = float(samples * path_length)
    return (
        allv.where(F.col("node") != source)
        .groupBy(F.col("node").alias("name"))
        .agg((F.count(F.lit(1)) / F.lit(denom)).alias("score"))
        .orderBy(F.desc("score"), "name")
        .limit(topk)
    )


def panther_similarity(
    edges: DataFrame,
    source: str,
    k: int = 5,
    path_length: int = 5,
    num_paths: int = 200,
) -> DataFrame:
    """G5 — Panther-style: sample random paths; similarity(u) = fraction
    of source-containing paths that also contain u
    (lightrag_related_topics.py:20-43 wraps nx.panther_similarity).

    Same deterministic batched-walk machinery; paths start uniformly at
    random nodes, co-occurrence counted per path id.
    """
    spark = edges.sparkSession
    adj = _adjacency(edges).localCheckpoint(eager=False)
    # NOTE on the global index window: Panther is the reference's
    # interactive similarity op over an already-loaded KG (networkx,
    # driver-sized — lightrag_related_topics.py:20-43); the dense
    # 0..n-1 start index via one global row_number assumes that same
    # bounded-graph regime. For corpus-scale graphs swap the start
    # selection to a distributed top-num_paths by md5(node).
    node_ids = adj.select("node").withColumn(
        "_ix", F.row_number().over(bounded_global("node")) - 1
    ).localCheckpoint(eager=False)  # indexed once: count + starts join reuse it
    n_nodes = node_ids.count()
    if n_nodes == 0:
        # empty graph: pmod(_, 0) would raise under ANSI; the answer is
        # simply "no similar nodes"
        return spark.createDataFrame([], "name string, score double")

    starts = spark.range(num_paths).select(F.col("id").alias("path_id")).withColumn(
        "_ix",
        F.pmod(
            F.conv(
                F.substring(F.md5(F.concat_ws(":", F.lit(str(SEED)), "path_id")), 1, 12),
                16, 10,
            ).cast("bigint"),
            F.lit(n_nodes),
        ).cast("int"),
    ).join(node_ids, "_ix").select("path_id", "node")

    member_frames = [starts]
    cur = starts
    for step in range(path_length):
        cur = (
            cur.join(adj, "node")
            .withColumn(
                "_h",
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.lit(f"p{SEED}"), "path_id", F.lit(str(step)))),
                        1, 12,
                    ),
                    16, 10,
                ).cast("bigint"),
            )
            .withColumn(
                "node",
                F.element_at(
                    "neighbors", (F.pmod(F.col("_h"), F.col("degree")) + 1).cast("int")
                ),
            )
            .select("path_id", "node")
        ).localCheckpoint(eager=False)
        member_frames.append(cur)

    members = member_frames[0]
    for m in member_frames[1:]:
        members = members.unionByName(m)
    members = members.distinct()
    src_paths = members.where(F.col("node") == source).select("path_id")
    n_src = src_paths.count()
    if n_src == 0:
        return spark.createDataFrame([], "name string, score double")
    return (
        members.join(F.broadcast(src_paths), "path_id")
        .where(F.col("node") != source)
        .groupBy(F.col("node").alias("name"))
        .agg((F.count(F.lit(1)) / F.lit(float(n_src))).alias("score"))
        .orderBy(F.desc("score"), "name")
        .limit(k)
    )
