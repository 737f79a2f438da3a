"""T4/T5/T7 — entity merge, relation merge, graph finalize (degrees).

Reference semantics (artifact-pinned, SURVEY.md §2.2):
- T4: group extracted entity mentions by canonical name; union source
  chunk ids; concat distinct descriptions with ``<SEP>``; keep a type
  (graphml node attrs in
  /root/reference/docs/dummy_projects/lightrag/dwell1/lightrag/graph_chunk_entity_relation.graphml).
- T5: group relations by the undirected pair ``sorted((src, tgt))``
  (dedup-key precedent at
  /root/reference/graphrag_kb_server/service/lightrag/lightrag_search.py:1078-1082);
  SUM the per-mention weights; union keywords/descriptions/chunk ids.
- T7: node degree and edge combined_degree (legacy schema
  ``entities.degree``, ``relationships.combined_degree`` in
  /root/reference/data/onepoint/output/*.parquet).

Scale design (the skew-critical stage):

1. **Salted two-phase aggregation.** Mention counts per entity are
   Zipfian — hub entities appear in a large fraction of pages — so a
   naive ``groupBy(name)`` puts each hub key in one reducer task. We
   aggregate twice: a partial aggregate keyed by ``(name, salt)`` with
   ``salt = hash(chunk_id) % S``, then a final aggregate by ``name``
   over ≤S partial rows per key. All states merge associatively, so
   the result is exact.

2. **Bounded aggregates.** The reference concatenates ALL descriptions
   and chunk ids per entity (then LLM-summarizes over-long
   descriptions). At web scale a hub entity has millions of mentions —
   unbounded collect_set is the memory bomb. Documented deviation:
   - ``description`` / ``source_chunk_ids`` are deterministic bounded
     samples (lexicographically smallest K — order-free, partitioning-
     independent), the stand-in for the reference's LLM summarization
     of over-long merged descriptions;
   - exact totals are kept as columns: ``mention_count`` and
     ``chunk_count``. chunk_count is EXACT because the salt is derived
     from chunk_id — each distinct chunk id lands in exactly one salt
     bucket, so per-salt distinct counts are disjoint and additive;
   - full provenance remains queryable in the ``mentions`` table.

3. Every "pick one" is an explicit min — no implicit row-order
   dependence anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import GRAPH_FIELD_SEP

#: salt buckets S of the two-phase merges
SALT_BUCKETS = 16
MAX_SOURCE_CHUNKS = 64
MAX_DESCRIPTIONS = 16


def _capped_sorted_set(col: str, k: int):
    return F.slice(F.array_sort(F.collect_set(col)), 1, k)


def _merge_capped(col: str, k: int):
    return F.slice(
        F.array_sort(F.array_distinct(F.flatten(F.collect_set(col)))), 1, k
    )


def build_nodes(mentions: DataFrame) -> DataFrame:
    """mentions → nodes(name, type, description, source_chunk_ids,
    mention_count, chunk_count). T4 entity merge."""
    sides = mentions.select(
        F.col("subj").alias("name"), F.col("subj_type").alias("type"),
        "description", "chunk_id",
    ).unionByName(
        mentions.select(
            F.col("obj").alias("name"), F.col("obj_type").alias("type"),
            "description", "chunk_id",
        )
    )
    salted = sides.withColumn(
        "_salt", F.pmod(F.xxhash64("chunk_id"), F.lit(SALT_BUCKETS))
    )
    # one collect_set per key; count + capped sample derived from it in
    # a projection. (A countDistinct here would trigger Catalyst's
    # Expand-based distinct rewrite — 6x slower measured. Per-salt set
    # size is bounded by |distinct chunks of the key| / SALT_BUCKETS;
    # scale SALT_BUCKETS with corpus size.)
    partial = salted.groupBy("name", "_salt").agg(
        F.collect_set("type").alias("p_types"),
        _capped_sorted_set("description", MAX_DESCRIPTIONS).alias("p_descs"),
        F.count(F.lit(1)).alias("p_cnt"),
        F.collect_set("chunk_id").alias("_chunk_set"),
    ).select(
        "name", "_salt", "p_types", "p_descs", "p_cnt",
        # chunk ids are disjoint across salts (salt = hash(chunk_id)),
        # so per-salt distinct counts are additive → exact global count
        F.size("_chunk_set").alias("p_chunk_cnt"),
        F.slice(F.array_sort("_chunk_set"), 1, MAX_SOURCE_CHUNKS).alias("p_chunks"),
    )
    return partial.groupBy("name").agg(
        F.array_min(F.flatten(F.collect_set("p_types"))).alias("type"),
        F.concat_ws(
            GRAPH_FIELD_SEP, _merge_capped("p_descs", MAX_DESCRIPTIONS)
        ).alias("description"),
        _merge_capped("p_chunks", MAX_SOURCE_CHUNKS).alias("source_chunk_ids"),
        F.sum("p_cnt").alias("mention_count"),
        F.sum("p_chunk_cnt").alias("chunk_count"),
    )


def build_edges(mentions: DataFrame) -> DataFrame:
    """mentions → edges(src, tgt, weight, keywords, description,
    source_chunk_ids, chunk_count). T5 relation merge: undirected key,
    SUMmed weights (reference sums LLM scores)."""
    undirected = mentions.select(
        F.least("subj", "obj").alias("src"),
        F.greatest("subj", "obj").alias("tgt"),
        "pred", "description", "chunk_id", "weight",
    )
    salted = undirected.withColumn(
        "_salt", F.pmod(F.xxhash64("chunk_id"), F.lit(SALT_BUCKETS))
    )
    partial = salted.groupBy("src", "tgt", "_salt").agg(
        F.sum("weight").alias("p_weight"),
        F.collect_set("pred").alias("p_preds"),
        _capped_sorted_set("description", MAX_DESCRIPTIONS).alias("p_descs"),
        F.collect_set("chunk_id").alias("_chunk_set"),
    ).select(
        "src", "tgt", "_salt", "p_weight", "p_preds", "p_descs",
        F.size("_chunk_set").alias("p_chunk_cnt"),
        F.slice(F.array_sort("_chunk_set"), 1, MAX_SOURCE_CHUNKS).alias("p_chunks"),
    )
    return partial.groupBy("src", "tgt").agg(
        F.sum("p_weight").alias("weight"),
        F.concat_ws(
            GRAPH_FIELD_SEP,
            F.array_sort(F.array_distinct(F.flatten(F.collect_set("p_preds")))),
        ).alias("keywords"),
        F.concat_ws(
            GRAPH_FIELD_SEP, _merge_capped("p_descs", MAX_DESCRIPTIONS)
        ).alias("description"),
        _merge_capped("p_chunks", MAX_SOURCE_CHUNKS).alias("source_chunk_ids"),
        F.sum("p_chunk_cnt").alias("chunk_count"),
    )


def node_degrees(edges: DataFrame) -> DataFrame:
    """T7: degree per node from the undirected edge list."""
    return (
        edges.select(F.explode(F.array("src", "tgt")).alias("name"))
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def finalize_graph(nodes: DataFrame, edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Attach degree to nodes and combined_degree to edges.

    degrees is one row per entity — small relative to mentions but
    potentially large at web scale; Spark picks broadcast vs shuffle
    join by size (autoBroadcastJoinThreshold + AQE), we don't force it.

    The degree table is lazily localCheckpointed so that when the two
    returned plans are executed as two actions (the pipeline writes
    nodes and edges separately) the explode+groupBy over the full edge
    list runs ONCE, not once per output.
    """
    deg = node_degrees(edges).localCheckpoint(eager=False)
    nodes_out = nodes.join(deg, "name", "left").withColumn(
        "degree", F.coalesce(F.col("degree"), F.lit(0)).cast("int")
    )
    d_src = deg.select(F.col("name").alias("src"), F.col("degree").alias("_sd"))
    d_tgt = deg.select(F.col("name").alias("tgt"), F.col("degree").alias("_td"))
    edges_out = (
        edges.join(d_src, "src", "left")
        .join(d_tgt, "tgt", "left")
        .withColumn(
            "combined_degree",
            (F.coalesce("_sd", F.lit(0)) + F.coalesce("_td", F.lit(0))).cast("bigint"),
        )
        .drop("_sd", "_td")
    )
    return nodes_out, edges_out
