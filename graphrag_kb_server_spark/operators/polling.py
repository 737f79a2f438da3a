"""Q11 — linear-gradient weighted polling of chunks per entity.

Reference semantics ("linear gradient weighted polling",
``pick_by_weighted_polling`` used at
/root/reference/graphrag_kb_server/service/lightrag/lightrag_search.py:1512-1521
and :1715-1723): higher-ranked entities contribute more chunks; every
entity contributes at least one; total budget = ``related_chunk_number``
× number of entities, distributed as a decreasing arithmetic gradient.

Spark design: quotas are computed in-DataFrame from the entity rank
(no driver loop): for entity rank r of R entities with budget B,
``quota(r) = max(1, round(B * (R - r) / (R * (R + 1) / 2)))`` — a linear
gradient summing ≈ B. Selection = ``row_number`` per entity over the
entity's own chunk ordering ≤ quota. ``gradient_quota_map`` and
``weighted_polling_rows`` are the driver twins kg_query runs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gradient_quotas(
    entities_ranked: DataFrame,
    rank_col: str,
    total_budget_per_entity: int,
) -> DataFrame:
    """entities(rank) → + quota column (≥1, linear decreasing)."""
    r_total = entities_ranked.count()
    if r_total == 0:
        # empty entity list (reachable since truncation faithfully
        # returns an empty prefix when the first row overflows the
        # budget): no rows to quota, but keep the schema stable
        return entities_ranked.withColumn("quota", F.lit(1).cast("int"))
    budget = total_budget_per_entity * r_total
    tri = r_total * (r_total + 1) / 2.0
    # floor(x + 0.5) instead of round(): identical half-up semantics in
    # Spark and ANSI/DuckDB SQL (round() is half-even in some engines)
    return entities_ranked.withColumn(
        "quota",
        F.greatest(
            F.lit(1),
            F.floor(
                F.lit(budget) * (F.lit(r_total) - F.col(rank_col)) / F.lit(tri) + 0.5
            ).cast("int"),
        ),
    )


def weighted_polling_pick(
    chunks_per_entity: DataFrame,
    entity_quotas: DataFrame,
    entity_col: str = "name",
) -> DataFrame:
    """Keep top-quota chunks per entity by ``occurrence`` desc, as the
    reference does (lightrag_search.py:1389-1464)."""
    w = Window.partitionBy(entity_col).orderBy(F.desc("occurrence"), "chunk_id")
    return (
        chunks_per_entity.join(
            F.broadcast(entity_quotas.select(entity_col, "quota")), entity_col
        )
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= F.col("quota"))
        .drop("_rn", "quota")
    )


def gradient_quota_map(ranks: dict, total_budget_per_entity: int) -> dict:
    """Driver twin of :func:`gradient_quotas`: {entity: rank} → {entity: quota}."""
    r_total = len(ranks)
    budget = total_budget_per_entity * r_total
    tri = r_total * (r_total + 1) / 2.0
    return {
        name: max(1, math.floor(budget * (r_total - rank) / tri + 0.5))
        for name, rank in ranks.items()
    }


def weighted_polling_rows(
    chunks_per_entity: list[dict], quotas: dict, entity_key: str = "name"
) -> list[dict]:
    """Driver twin of :func:`weighted_polling_pick`; an entity without
    a quota drops out, as in the inner join."""
    by_entity: dict = {}
    for r in chunks_per_entity:
        by_entity.setdefault(r[entity_key], []).append(r)
    picked: list[dict] = []
    for name, rows in by_entity.items():
        rows.sort(key=lambda r: (-r["occurrence"], r["chunk_id"]))
        picked += rows[: quotas.get(name, 0)]
    return picked
