"""Similarity search over embedding columns (ARRAY<FLOAT>).

- ``brute_force_topk_batch``  — exact cosine top-k for many queries at
  once (the G6 baseline): broadcast the query table, cross-join-free
  (broadcast nested loop on small query side), per-query window top-k.
- ``ivf_topk_batch``          — the scale path: coarse quantization by
  seeded hyperplane signs (IVF-style cells); queries probe only their
  own cell (+optionally neighboring cells via reduced sign prefixes),
  turning O(N·Q) into O(N·Q/cells) with an equi-join on the cell key.

Reference analogue: kNN over entity embeddings
(/root/reference/graphrag_kb_server/service/similar_topics.py:94-167 —
sklearn NearestNeighbors, driver-bound) re-expressed as distributed
joins.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors as V


def brute_force_topk_batch(
    table: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """Exact top-k for EVERY query row, both frames carrying an
    ``embedding`` column: broadcast(queries) × table → per-query
    row_number ≤ k. Right plan when |queries| is small; the
    broadcast keeps the big table un-shuffled."""
    # norms precomputed per side: the scoring join then pays one dot
    # aggregate per (row, query) instead of five (see cosine_with_norms)
    q = queries.select(
        F.col(query_id_col).alias("qid"), V.to_double(F.col("embedding")).alias("qv")
    ).withColumn("qn", V.norm(F.col("qv")))
    scored = (
        table.select(
            F.col(id_col).alias("id"), V.to_double(F.col("embedding")).alias("v")
        )
        .withColumn("vn", V.norm(F.col("v")))
        .join(F.broadcast(q))
        .withColumn(
            "score",
            V.cosine_with_norms(F.col("v"), F.col("qv"), F.col("vn"), F.col("qn")),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), "id")
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .select("qid", "id", "score", F.col("_rk").alias("rank"))
    )


def _cell_expr(vec_col_d, planes: np.ndarray) -> F.Column:
    return F.concat_ws(
        "",
        *[
            F.when(
                F.aggregate(
                    F.zip_with(
                        vec_col_d,
                        F.array(*[F.lit(float(x)) for x in planes[p]]),
                        lambda a, b: a * b,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                >= 0,
                F.lit("1"),
            ).otherwise(F.lit("0"))
            for p in range(planes.shape[0])
        ],
    )


def ivf_topk_batch(
    table: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    query_id_col: str,
    n_planes: int = 4,
    seed: int = 42,
    probe_bits: int = 0,
) -> DataFrame:
    """Approximate batched top-k over the ``embedding`` columns: both
    sides keyed by hyperplane-sign cell; candidates = same-cell rows only (2^n_planes cells). Recall
    rises as n_planes falls; n_planes=0 degenerates to exact.

    ``probe_bits=1`` is textbook query-side multi-probe: each query
    also probes the ``n_planes`` cells at sign-hamming 1 (one plane
    flipped), so a true neighbour straddling ONE hyperplane is still a
    candidate. The BIG side stays 1× (flipping query bits beats the
    symmetric masked-key trick when the sides are asymmetric); cost is
    an (n_planes+1)× bigger broadcast of the tiny query table, and
    each probe cell is distinct so no candidate dedup is needed."""
    dim_row = table.select(F.size("embedding").alias("d")).first()
    dim = dim_row["d"] if dim_row else 0
    planes = np.random.default_rng(seed).standard_normal((n_planes, dim))
    t = (
        table.select(
            F.col(id_col).alias("id"), V.to_double(F.col("embedding")).alias("v")
        )
        .withColumn("cell", _cell_expr(F.col("v"), planes))
        .withColumn("vn", V.norm(F.col("v")))
    )
    q = (
        queries.select(
            F.col(query_id_col).alias("qid"),
            V.to_double(F.col("embedding")).alias("qv"),
        )
        .withColumn("cell", _cell_expr(F.col("qv"), planes))
        .withColumn("qn", V.norm(F.col("qv")))
    )
    if probe_bits > 0:
        flipped = [
            F.concat(
                F.substring("cell", 1, i),
                F.when(
                    F.substring("cell", i + 1, 1) == "1", F.lit("0")
                ).otherwise(F.lit("1")),
                F.substring("cell", i + 2, n_planes),
            )
            for i in range(n_planes)
        ]
        q = q.withColumn("cell", F.explode(F.array(F.col("cell"), *flipped)))
    scored = t.join(F.broadcast(q), "cell").withColumn(
        "score",
        V.cosine_with_norms(F.col("v"), F.col("qv"), F.col("vn"), F.col("qn")),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), "id")
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .select("qid", "id", "score", F.col("_rk").alias("rank"))
    )
