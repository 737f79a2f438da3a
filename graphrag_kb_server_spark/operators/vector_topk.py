"""Q2/Q3/Q4/G6 — cosine top-k over embedding tables.

Reference semantics: embed the query once
(/root/reference/graphrag_kb_server/service/lightrag/lightrag_search.py:959-974),
cosine top-k over entity/relation/chunk vector stores (:985-1034); kNN
over entity embeddings with self-dropped k+1
(/root/reference/graphrag_kb_server/service/similar_topics.py:94-167).

Spark design: the query vector is a literal array column (broadcast by
value into the plan — the degenerate 1-row broadcast join), cosine is a
pure Catalyst higher-order expression (functions/vectors.py), and top-k
is ``ORDER BY score DESC LIMIT k`` which Catalyst executes as
TakeOrderedAndProject: each partition keeps a k-heap, the driver merges
— no global sort, no shuffle of the full table. That plan is the right
one at any scale; an LSH-bucketed approximate variant for latency-bound
serving lives in operators/similarity.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import vectors as V


def cosine_topk(
    table: DataFrame,
    query_vec: np.ndarray | list[float],
    k: int,
    vec_col: str = "embedding",
    score_alias: str = "score",
    exclude_key: tuple[str, str] | None = None,
) -> DataFrame:
    """Top-k rows by cosine(query, vec_col). ``exclude_key=(col, value)``
    drops the query row itself (the reference's k+1-then-drop-self)."""
    out = table.withColumn(
        score_alias, V.cosine_with_query(V.to_double(F.col(vec_col)), query_vec)
    )
    if exclude_key is not None:
        col, val = exclude_key
        out = out.where(F.col(col) != val)
    return out.orderBy(F.desc(score_alias), *_tiebreak(table)).limit(k)


def _tiebreak(table: DataFrame) -> list[Column]:
    """Deterministic tie-break on the first string/id column."""
    for f in table.schema.fields:
        if f.dataType.simpleString() in ("string", "bigint", "int"):
            return [F.col(f.name)]
    return []
