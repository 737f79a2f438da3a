"""As-of join (operators/asof.py): semantics, plan shape."""

from __future__ import annotations

from graphrag_kb_server_spark.operators.asof import asof_join


def _frames(spark):
    left = spark.createDataFrame(
        [
            (1, 10, "l10"),
            (1, 20, "l20"),
            (1, 5, "l5"),
            (2, 15, "l15"),
        ],
        "k int, t int, lv string",
    )
    right = spark.createDataFrame(
        [
            (1, 10, "r10"),
            (1, 18, "r18"),
            (2, 30, "r30"),
        ],
        "k int, t int, rv string",
    )
    return left, right


def test_asof_backward_inclusive(spark):
    left, right = _frames(spark)
    out = {
        (r["k"], r["t"]): (r["asof_time"], r["rv"])
        for r in asof_join(left, right, "k", "t").collect()
    }
    assert out[(1, 10)] == (10, "r10")  # exact time matches (inclusive)
    assert out[(1, 20)] == (18, "r18")  # most recent prior
    assert out[(1, 5)] == (None, None)  # nothing at or before t=5
    assert out[(2, 15)] == (None, None)  # right row is in the future
    # left columns survive untouched
    rows = asof_join(left, right, "k", "t").collect()
    assert {r["lv"] for r in rows} == {"l10", "l20", "l5", "l15"}


def test_asof_single_exchange_no_join(spark):
    left, right = _frames(spark)
    plan = asof_join(left, right, "k", "t")._jdf.queryExecution().executedPlan().toString()
    # union + window formulation: no join operator at all, and the only
    # exchange is the window's key partitioning
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_asof_distinct_time_columns(spark):
    """A right side whose time column has another name is renamed to
    the left one; the matched time comes back as ``asof_time``."""
    left = spark.createDataFrame([(1, 7, "x")], "k int, lt int, lv string")
    right = spark.createDataFrame([(1, 6, "y")], "k int, rt int, rv string")
    rows = asof_join(
        left, right.withColumnRenamed("rt", "lt"), "k", left_time="lt"
    ).collect()
    assert rows[0]["rv"] == "y" and rows[0]["asof_time"] == 6


def test_asof_matches_pandas_merge_asof_property(spark):
    """Randomized cross-check vs pandas.merge_asof (backward,
    allow_exact_matches) — an independent implementation of the same
    semantics, over data with duplicate keys, unmatched keys, and
    boundary-equal times."""
    import random

    import pandas as pd

    rng = random.Random(7)
    lrows = [
        (rng.randint(1, 5), rng.randint(0, 50), i) for i in range(120)
    ]
    rrows = [
        (rng.randint(1, 6), rng.randint(0, 50) * 2 + 1, 1000 + i)
        for i in range(80)
    ]
    # unique right (k, t) so both implementations pick the same winner
    seen = set()
    rrows = [
        r for r in rrows
        if (r[0], r[1]) not in seen and not seen.add((r[0], r[1]))
    ]
    left = spark.createDataFrame(lrows, "k int, t int, lid int")
    right = spark.createDataFrame(rrows, "k int, t int, rid int")
    got = {
        r["lid"]: r["rid"]
        for r in asof_join(left, right, "k", "t").collect()
    }
    lp = pd.DataFrame(lrows, columns=["k", "t", "lid"]).sort_values("t")
    rp = pd.DataFrame(rrows, columns=["k", "t", "rid"]).sort_values("t")
    exp = pd.merge_asof(lp, rp, on="t", by="k", direction="backward")
    for _, row in exp.iterrows():
        want = None if pd.isna(row["rid"]) else int(row["rid"])
        assert got[int(row["lid"])] == want, (row["lid"], row["k"], row["t"])
