"""As-of (time-travel) join — a pure-Catalyst formulation.

Spark has no ASOF JOIN operator; the scale-correct composition is the
union + running-last window:

1. tag the RIGHT rows 0 and the LEFT rows 1, union them on
   (key, time, tag, right-payload-struct);
2. one window per key ordered by (time, tag): ``last(_rv, ignorenulls)``
   over ``rowsBetween(unboundedPreceding, currentRow)`` carries the
   most recent right payload forward — tag 0 sorts before tag 1 at
   equal times, so a right row AT the probe time matches (inclusive,
   pandas ``merge_asof(allow_exact_matches=True)`` semantics);
3. keep the left rows and expand the carried struct.

Why this shape at 100 TB: ONE shuffle of left ∪ right on the key (the
same exchange a sort-merge join would pay), no join explosion, no
per-row Python, and the window sort is (time, tag) within each key —
Spark spills it to disk rather than OOMing on large keys. A pathological
hub key serializes into one task's sort; the standard mitigation
(coarse time-bucketing with boundary carry-over) composes on top of
this operator without changing its contract, and is worth the
complexity only when one key's rows exceed an executor's spill budget.

Determinism: ties among RIGHT rows at the same (key, time) are broken
by the right payload struct's natural order (greatest wins — the last
value the running ``last`` sees). Callers wanting a specific winner
should pre-aggregate the right side to one row per (key, time).

Oracle: DuckDB's native ``ASOF LEFT JOIN`` — an independent engine's
implementation of the same semantics (asof_events entry).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
) -> DataFrame:
    """LEFT as-of join: every ``left`` row, plus the payload of the most
    recent ``right`` row with the same ``key`` and time ≤ the left time
    (inclusive). Both sides name their time column ``left_time``.
    Right payload columns (everything but key+time) come back nullable,
    with the matched time as ``asof_time``.
    """
    payload = [c for c in right.columns if c not in (key, left_time)]
    clash = [c for c in payload if c in left.columns] + (
        ["asof_time"] if "asof_time" in left.columns else []
    )
    if clash:
        # duplicate output column names would make every downstream
        # select ambiguous (ADVICE r5) — fail loudly; the caller
        # renames (pandas merge_asof-style suffixing is a rename away)
        raise ValueError(
            f"asof_join: right payload column(s) {clash} collide with "
            "left columns — rename one side before joining"
        )
    rv = F.struct(
        F.col(left_time).alias("asof_time"), *[F.col(c) for c in payload]
    )
    r2 = right.select(
        F.col(key).alias("_k"),
        F.col(left_time).alias("_t"),
        F.lit(0).alias("_tag"),
        rv.alias("_rv"),
        F.lit(None).cast(
            "struct<" + ",".join(f"`{c}`:{left.schema[c].dataType.simpleString()}" for c in left.columns) + ">"
        ).alias("_lv"),
    )
    l2 = left.select(
        F.col(key).alias("_k"),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_tag"),
        F.lit(None).cast(r2.schema["_rv"].dataType.simpleString()).alias("_rv"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lv"),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_t", "_tag", "_rv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        r2.unionByName(l2)
        .withColumn("_m", F.last("_rv", ignorenulls=True).over(w))
        .where(F.col("_tag") == 1)
    )
    return matched.select(
        *[F.col(f"_lv.{c}").alias(c) for c in left.columns],
        F.col("_m.asof_time").alias("asof_time"),
        *[F.col(f"_m.{c}").alias(c) for c in payload],
    )
