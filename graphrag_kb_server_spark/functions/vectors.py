"""Vector math over ``ARRAY<FLOAT>`` embedding columns — pure Catalyst
expressions (higher-order functions), no UDFs, so cosine top-k stays
inside whole-stage codegen and scales linearly with executors.

Reference analogues: cosine top-k over nano-vectordb matrices
(/root/reference/graphrag_kb_server/service/similar_topics.py:94-167,
lightrag_search.py:985-1034) and the embedding-cosine dedup
(/root/reference/graphrag_kb_server/service/search/matching.py:100-128).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double(vec: Column) -> Column:
    """Cast ARRAY<FLOAT> → ARRAY<DOUBLE> so accumulation happens in
    float64 (bit-stable vs the DuckDB oracle which also sums doubles
    left-to-right)."""
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine similarity of two double arrays, 0.0 for zero vectors,
    with the norms supplied as precomputed columns (``norm`` of the
    same arrays): the per-row/per-pair cost is ONE dot aggregate
    (interpreted HOFs would re-evaluate the norm aggregates per
    reference otherwise)."""
    denom = na * nb
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def cosine_with_query(a: Column, query_vec) -> Column:
    """Cosine of ``a`` vs a CONSTANT query vector: the query norm is
    folded at plan-build time with the same left-to-right float64
    accumulation as ``norm``'s F.aggregate — bit-identical values —
    and the whole denominator is bound once as a lambda variable, so
    each row pays one norm + one dot instead of five aggregates
    (cosine's when-condition and branch each re-evaluate both norms
    under interpreted-HOF evaluation).

    Null where ``a`` is not a finite vector of the query's length: a
    null array or element, another length (``zip_with`` pads with null;
    a zero-norm one is caught by the size test), NaN or ±inf (NaN,
    mapped to null). Such a row has no score, so it is never a
    candidate: callers keep the rows whose score is not null."""
    import math

    qn = 0.0
    for x in query_vec:
        qn += float(x) * float(x)
    qn = math.sqrt(qn)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return F.nanvl(F.transform(
        F.array(norm(a) * F.lit(qn)),
        lambda d: F.when(d == 0.0, F.when(F.size(a) == len(query_vec), F.lit(0.0)))
        .otherwise(dot(a, q) / d),
    )[0], F.lit(None))
