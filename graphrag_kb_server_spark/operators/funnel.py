"""Sequential funnel analysis over an event stream.

"Of the users who did A, how many later did B, and later still C?" —
the conversion query every event pipeline runs (view → click →
purchase). Strictly ORDERED: step k counts only events after the
user's step-(k−1) time, so a purchase before the first view does not
convert.

Spark shape — one filtered aggregation per step, never a per-user
sort: step k is ``events WHERE type = step_k`` joined to the previous
step's (user, t_{k−1}) frame (a per-user aggregate — at most one row
per user, orders of magnitude smaller than the event stream, broadcast
under AQE), filtered to ``ts > t_{k−1}``, then ``min(ts)`` per user.
Funnel depth is the number of passes; each pass's event scan is
pruned by the pushed-down type filter. No window functions, no
per-user event buffering — state is one timestamp per user per step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel(events: DataFrame, steps: list[str]) -> DataFrame:
    """events(user_id, event_type, ts) → one row per funnel step:
    (step_ix, step, n_users) with
    n_users = users whose first qualifying step-k event follows their
    step-(k−1) time. Deterministic: counts only, no timestamps
    surfaced."""
    spark = events.sparkSession
    prev: DataFrame | None = None
    counts: list[tuple[int, str, int]] = []
    for ix, step in enumerate(steps):
        ev = events.where(F.col("event_type") == step).select(
            F.col("user_id").alias("_u"), F.col("ts").alias("_ts")
        )
        if prev is not None:
            ev = ev.join(prev, "_u").where(
                F.col("_ts") > F.col("_prev_ts")
            )
        cur = ev.groupBy("_u").agg(F.min("_ts").alias("_prev_ts"))
        # the per-user frame is tiny; materialize it once — each later
        # step joins it, and the count below is its own action
        cur = cur.localCheckpoint(eager=False)
        counts.append((ix, step, cur.count()))
        prev = cur
    return spark.createDataFrame(
        counts, "step_ix int, step string, n_users bigint"
    )
