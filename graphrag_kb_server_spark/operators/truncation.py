"""Q8/Q14 — token-budget truncation (order-preserving prefix filter).

Reference semantics: serialize each context row, keep the prefix of the
ranked list whose CUMULATIVE token count fits the budget
(``truncate_list_by_token_size``; applied with max_entity_tokens=100 /
max_relation_tokens=800 at
/root/reference/graphrag_kb_server/service/lightrag/lightrag_search.py:1116-1284,
dynamic chunk budget at :761-823).

Spark design: a running-sum window
``sum(tokens) over (order by pos rows unbounded preceding..current)``
then ``filter(cumsum <= budget)`` — exactly the prefix the sequential
loop keeps, expressed declaratively. Token counts come from the shared
deterministic tokenizer via a pandas UDF (the only Python step).
``token_budget_prefix`` is the driver twin kg_query runs on its
already-collected rows.

Scale note: a global ``Window.orderBy`` is a single-task sort — correct
here because truncation inputs are ALREADY top-k-limited small lists
(≤ a few thousand rows) by construction; the budget filter exists to cut
LLM context, not to scan big data.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.windows import bounded_global
from pyspark.sql import types as T

from ..tokenizer import count_tokens


@F.pandas_udf(T.IntegerType())
def token_count_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: count_tokens(t or ""))


def truncate_by_token_budget(
    df: DataFrame,
    text_col: str,
    order_col: str,
    budget: int,
) -> DataFrame:
    """Keep the maximal prefix (by ``order_col``) whose cumulative token
    count ≤ budget. Like the reference's truncate_list_by_token_size,
    this is EMPTY when the first row alone overflows the budget
    (``return list_data[:i]`` with i=0)."""
    w = bounded_global(order_col).rowsBetween(Window.unboundedPreceding, 0)
    return (
        df.withColumn("_tok", token_count_udf(F.col(text_col)))
        .withColumn("_cum", F.sum("_tok").over(w))
        .where(F.col("_cum") <= budget)
        .drop("_tok", "_cum")
    )


def token_budget_prefix(rows: list[dict], text_key: str, budget: int) -> list[dict]:
    """Driver twin of :func:`truncate_by_token_budget` for rows already
    in ``order_col`` order."""
    cum = 0
    for i, r in enumerate(rows):
        cum += count_tokens(r[text_key] or "")
        if cum > budget:
            return rows[:i]
    return rows


def cumulative_prefix_by_budget(
    df: DataFrame,
    weight_col: str,
    order_col: str,
    budget: float,
) -> DataFrame:
    """Generic running-sum prefix filter on a numeric column (used by the
    oracle-checked entry queries; same window shape as the token path)."""
    w = bounded_global(order_col).rowsBetween(Window.unboundedPreceding, 0)
    return (
        df.withColumn("_cum", F.sum(weight_col).over(w))
        .where(F.col("_cum") <= budget)
        .drop("_cum")
    )
