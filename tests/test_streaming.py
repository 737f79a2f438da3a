import datetime as dt

from pyspark.sql import functions as F

from graphrag_kb_server_spark.corpus import generate
from graphrag_kb_server_spark.streaming.incremental import (
    run_incremental,
    windowed_event_counts,
)


def test_availablenow_incremental(spark, tmp_out):
    src = f"{tmp_out}/stream_src"
    out = f"{tmp_out}/stream_out"
    generate(spark, 30).write.mode("overwrite").parquet(src)
    n1 = run_incremental(spark, src, out, f"{tmp_out}/ckpt1")
    assert n1 >= 1
    docs1 = spark.read.parquet(f"{out}/documents_stream")
    assert docs1.count() == 30
    # replay with a fresh checkpoint: doc_status dedup keeps it idempotent
    run_incremental(spark, src, out, f"{tmp_out}/ckpt2")
    assert spark.read.parquet(f"{out}/documents_stream").count() == 30


def test_windowed_event_counts_batch(spark):
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 1), "click", 1.0),
        (2, dt.datetime(2024, 1, 1, 0, 2), "click", 2.0),
        (3, dt.datetime(2024, 1, 1, 0, 7), "click", 3.0),
    ]
    ev = spark.createDataFrame(rows, "event_id int, ts timestamp, event_type string, value double")
    out = {
        (r["win"]["start"].minute, r["event_type"]): (r["n"], r["v"])
        for r in windowed_event_counts(ev).collect()
    }
    assert out[(0, "click")] == (2, 3.0)
    assert out[(5, "click")] == (1, 3.0)


def test_s8_upsert_merge(spark, tmp_out):
    """S8 MERGE semantics: matched rows replaced, unmatched inserted,
    last-write-wins within a batch, crash-safe version pointer."""
    from graphrag_kb_server_spark.sources.upsert import read_table, upsert

    tdir = f"{tmp_out}/upsert_tbl"
    base = spark.createDataFrame(
        [("k1", "a", 1), ("k2", "b", 1)], "key string, val string, ver int"
    )
    upsert(spark, base, tdir, keys=["key"], order_col="ver")
    # matched update + insert + in-batch duplicate (max order_col wins)
    updates = spark.createDataFrame(
        [("k2", "b2", 2), ("k3", "c", 2), ("k3", "c-late", 3)],
        "key string, val string, ver int",
    )
    out = upsert(spark, updates, tdir, keys=["key"], order_col="ver")
    got = {r["key"]: (r["val"], r["ver"]) for r in out.collect()}
    assert got == {"k1": ("a", 1), "k2": ("b2", 2), "k3": ("c-late", 3)}
    # reread through the pointer sees the same state
    got2 = {r["key"]: r["val"] for r in read_table(spark, tdir).collect()}
    assert got2 == {"k1": "a", "k2": "b2", "k3": "c-late"}


def test_stateful_sessionize_matches_batch(spark):
    """applyInPandasWithState sessionization (streaming/stateful.py)
    produces exactly the batch lag+cumsum result on the same events."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from graphrag_kb_server_spark.streaming.stateful import sessionize_stateful

    sf = "/root/testdata/sf0.001"
    got = {
        (r["user_id"], r["n_sessions"], r["n_events"])
        for r in sessionize_stateful(
            spark, f"{sf}/events.parquet", query_name="sess_state_test"
        ).collect()
    }
    ev = spark.read.parquet(f"{sf}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    batch = (
        ev.withColumn(
            "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        )
        .groupBy("user_id")
        .agg(
            F.sum("new_sess").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    expected = {
        (r["user_id"], r["n_sessions"], r["n_events"]) for r in batch.collect()
    }
    assert got == expected and got


def test_windowed_stream_matches_batch(spark):
    """The Structured-Streaming windowed aggregation (watermark +
    availableNow) equals the batch window() computation."""
    from pyspark.sql import functions as F

    from graphrag_kb_server_spark.streaming.incremental import (
        windowed_event_counts,
        windowed_events_stream,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r["win"]["start"], r["event_type"], r["n"], round(r["v"], 4))
        for r in windowed_events_stream(
            spark, f"{sf}/events.parquet", query_name="win_stream_test"
        ).collect()
    }
    ev = spark.read.parquet(f"{sf}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    expected = {
        (r["win"]["start"], r["event_type"], r["n"], round(r["v"], 4))
        for r in windowed_event_counts(ev).collect()
    }
    assert got == expected and got
