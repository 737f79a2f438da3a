"""Q6/Q7/Q13 — round-robin merge + first-occurrence dedup.

Reference semantics: interleave N ranked branch lists position-wise;
on duplicate keys the FIRST occurrence in interleave order wins
(entities: /root/reference/graphrag_kb_server/service/lightrag/lightrag_search.py:1047-1066;
relations with sorted-pair key :1068-1101; 3-way chunk merge :1287-1386).

Spark design: the reference's "first wins while iterating" is an
order-sensitive Python loop; distributed row order is nondeterministic,
so we make the ordering EXPLICIT: each branch ranks its rows with
``row_number`` over its own ordering, the interleave position is
``pos * n_branches + branch``, and dedup is
``row_number over (partition by key order by interleave_pos) = 1``.
This reproduces the sequential semantics exactly, for any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.windows import bounded_global


def rank_branch(df: DataFrame, order_cols: list, branch: int) -> DataFrame:
    """Attach 0-based rank within a branch by an explicit ordering."""
    w = bounded_global(*order_cols)
    return df.withColumn("_pos", F.row_number().over(w) - 1).withColumn(
        "_branch", F.lit(branch)
    )


def round_robin_merge(
    branches: list[DataFrame],
    key_cols: list[str],
) -> DataFrame:
    """Interleave pre-ranked branches (must carry _pos/_branch from
    :func:`rank_branch`) and keep the first occurrence per key.

    Output keeps all data columns plus ``merge_ix`` — the final
    interleave position (dense, 0-based) after dedup, i.e. the order the
    reference's merged Python list would have.
    """
    n = len(branches)
    unioned = branches[0]
    for b in branches[1:]:
        unioned = unioned.unionByName(b)
    unioned = unioned.withColumn(
        "_interleave", F.col("_pos") * n + F.col("_branch")
    )
    dedup_w = Window.partitionBy(*key_cols).orderBy("_interleave")
    first = (
        unioned.withColumn("_rk", F.row_number().over(dedup_w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )
    out_w = bounded_global("_interleave")
    return (
        first.withColumn("merge_ix", F.row_number().over(out_w) - 1)
        .drop("_pos", "_branch", "_interleave")
    )


def round_robin_rows(branches: list[list[dict]], key_cols: list[str]) -> list[dict]:
    """Driver twin of :func:`round_robin_merge` for branches already in
    rank order: visits rows by interleave position ``pos * n + branch``."""
    out: list[dict] = []
    seen: set[tuple] = set()
    for pos in range(max(map(len, branches), default=0)):
        for rows in branches:
            if pos < len(rows):
                key = tuple(rows[pos][c] for c in key_cols)
                if key not in seen:
                    seen.add(key)
                    out.append({**rows[pos], "merge_ix": len(out)})
    return out


#: the rank offset k of reciprocal-rank fusion (Cormack et al.'s 60)
RRF_K = 60


def rrf_fuse(
    lists: list[tuple[DataFrame, str]],
    id_col: str,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of pre-top-k'd
    ranked lists: ``rrf(d) = Σ_lists 1/(RRF_K + rank_d)`` — the
    standard hybrid-retrieval combiner (BM25 ⊕ dense cosine), robust
    to incomparable score scales because only RANKS survive.

    Inputs are (frame, score_col) pairs that are ALREADY top-k
    retrieval outputs — tens of rows, so the unpartitioned rank
    windows and the final aggregation are driver-trivial by
    construction (the heavy lifting happened inside each retriever).
    Returns (id, rrf, n_lists) — fused score (6 dp) and how many lists
    contained the id — ordered by (rrf desc, id), top_k rows.
    """
    parts = []
    for df, score_col in lists:
        w = Window.orderBy(F.desc(score_col), id_col)
        parts.append(
            df.select(F.col(id_col), F.row_number().over(w).alias("_r"))
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    return (
        allp.groupBy(id_col)
        .agg(
            F.round(
                F.sum(F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("_r"))), 6
            ).alias("rrf"),
            F.count(F.lit(1)).alias("n_lists"),
        )
        .orderBy(F.desc("rrf"), id_col)
        .limit(top_k)
    )
