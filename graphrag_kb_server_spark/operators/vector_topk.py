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

One rule for unusable embeddings: a row whose embedding is not a
finite vector of the query's length is not a candidate. Its
``V.cosine_with_query`` score is null, and ``F.desc`` sorts nulls last,
so ``cosine_topk`` drops such rows after the cut (a filter before it
would be pushed below the projection and run the cosine twice). The
driver side drops them when it builds its matrix.

Driver twin: ``cosine_topk_rows`` (with ``cosine_scores``, the twin of
``V.cosine_with_query``) runs the same scores, order and cut in numpy
over a float64 matrix. kg_query uses it on KBs small enough for a
driver snapshot; tests/test_query_driver_parity.py pins its scores to
``cosine_topk``'s bit for bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vectors as V


def cosine_topk(
    table: DataFrame,
    query_vec: np.ndarray | list[float],
    k: int,
    score_alias: str = "score",
    exclude_key: tuple[str, str] | None = None,
) -> DataFrame:
    """Top-k rows by cosine(query, embedding). ``exclude_key=(col, value)``
    drops the query row itself (the reference's k+1-then-drop-self)."""
    out = table.withColumn(
        score_alias, V.cosine_with_query(V.to_double(F.col("embedding")), query_vec)
    )
    if exclude_key is not None:
        col, val = exclude_key
        out = out.where(F.col(col) != val)
    tiebreak = tiebreak_col(table)
    return out.orderBy(
        F.desc(score_alias), *([F.col(tiebreak)] if tiebreak else [])
    ).limit(k).where(F.col(score_alias).isNotNull())


def tiebreak_col(table: DataFrame) -> str | None:
    """Deterministic tie-break: the first string/id column."""
    for f in table.schema.fields:
        if f.dataType.simpleString() in ("string", "bigint", "int"):
            return f.name
    return None


def _fold(x: np.ndarray) -> np.ndarray:
    """Left-to-right float64 sum over the last axis, as F.aggregate
    folds (np.cumsum is sequential; np.sum and np.dot are not)."""
    if x.shape[-1] == 0:
        return np.zeros(x.shape[:-1])
    return np.cumsum(x, axis=-1)[..., -1]


def cosine_scores(mat: np.ndarray, query_vec: np.ndarray | list[float]) -> np.ndarray:
    """Driver twin of ``V.cosine_with_query`` over the rows of a float64
    matrix: same folds, row norm times query norm as the denominator,
    0.0 where that is 0 — bit-identical scores."""
    q = np.asarray(query_vec, dtype=np.float64)
    denom = np.sqrt(_fold(mat * mat)) * np.sqrt(_fold(q * q))
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom == 0.0, 0.0, _fold(mat * q) / denom)


def cosine_topk_rows(
    mat: np.ndarray,
    query_vec: np.ndarray | list[float],
    k: int,
    tiebreak: list | None = None,
) -> list[tuple[int, float]]:
    """Driver twin of :func:`cosine_topk`: (row index, score) of the top
    ``k`` rows of ``mat`` by score desc, then ``tiebreak`` value asc
    (nulls first, as Spark sorts them)."""
    scores = cosine_scores(mat, query_vec)
    n = len(scores)
    if k <= 0 or n == 0:
        return []
    cand = range(n) if k >= n else np.flatnonzero(
        scores >= np.partition(scores, n - k)[n - k]
    )

    def key(i):
        v = tiebreak[i] if tiebreak is not None else i
        return (-scores[i], v is not None, v)

    return [(int(i), float(scores[i])) for i in sorted(cand, key=key)[:k]]
