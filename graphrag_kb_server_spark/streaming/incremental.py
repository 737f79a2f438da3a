"""T9 — incremental indexing with availableNow-style semantics.

The reference is batch + incremental-batch (new-zip file matching at
/root/reference/graphrag_kb_server/service/lightrag/lightrag_index_support.py:52-67;
full clear at service/project.py:41-63). SURVEY.md §2.6 notes no true
streaming requirement, so the engine keeps indexing as idempotent batch
jobs; this module adds the two streaming-shaped surfaces:

- ``run_incremental`` — a Structured-Streaming ``availableNow`` pass
  over a web_pages parquet directory: each micro-batch is anti-joined
  against doc_status and appended through the same stage functions
  (foreachBatch = the exactly-once sink pattern).
- ``watch_events`` — a windowed streaming aggregation over an events
  table (watermark + tumbling window), demonstrating the
  late-data-tolerant metrics sidecar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import WEB_PAGES_SCHEMA
from ..functions import text as TXT

#: event-count windows and their watermark
WINDOW = "5 minutes"
WATERMARK = "10 minutes"
#: trending-terms windows, their watermark, and the least count kept
TRENDING_WINDOW = "10 minutes"
TRENDING_WATERMARK = "20 minutes"
TRENDING_MIN_COUNT = 5


def run_incremental(
    spark: SparkSession,
    web_pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> int:
    """availableNow incremental document extraction: stream new files,
    frame+sanitize, append to documents; doc_status dedup inside
    foreachBatch keeps replays idempotent. Returns batches processed."""
    stream = (
        spark.readStream.schema(WEB_PAGES_SCHEMA).parquet(web_pages_dir)
    )
    docs = stream.select(
        "url",
        "warc_ts",
        TXT.extract_text(F.col("text"), F.col("url")).alias("content"),
    ).withColumn("doc_id", TXT.doc_id(F.col("content")))

    n_batches = {"n": 0}

    def sink(batch: DataFrame, epoch_id: int) -> None:
        import os

        status_path = f"{out_dir}/doc_status_stream"
        # in-batch dedup FIRST: the anti-join only sees PREVIOUS
        # batches, so a content-duplicate pair delivered in one batch
        # would append twice and break the idempotency invariant (the
        # oracle's SELECT DISTINCT and a batch replay both dedup)
        fresh = batch.dropDuplicates(["doc_id"])
        if os.path.exists(status_path):
            seen = batch.sparkSession.read.parquet(status_path).select("doc_id")
            fresh = fresh.join(seen, "doc_id", "left_anti")
        # two write actions read `fresh`: persist so extract_text +
        # the anti-join run once per batch, not once per sink
        fresh = fresh.persist()
        try:
            fresh.write.mode("append").parquet(f"{out_dir}/documents_stream")
            fresh.select(
                "doc_id", F.lit("processed").alias("status"),
                F.lit(int(epoch_id)).alias("epoch"),
            ).write.mode("append").parquet(status_path)
        finally:
            fresh.unpersist()
        n_batches["n"] += 1

    q = (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


#: source path → symlink dir memo: repeated streaming runs over the
#: same file reuse ONE wrapper dir instead of leaking a mkdtemp per call
_STREAM_DIRS: dict[str, str] = {}


def ensure_stream_dir(path: str) -> str:
    """The file-stream source requires a directory; expose a single
    parquet FILE through a symlink dir (local-path convenience — real
    deployments stream from a directory/table anyway). Memoized per
    source file."""
    import os
    import tempfile

    if os.path.isfile(path):
        ap = os.path.abspath(path)
        d = _STREAM_DIRS.get(ap)
        if d is None or not os.path.isdir(d):
            d = tempfile.mkdtemp(prefix="kgspark_stream_src_")
            os.symlink(ap, os.path.join(d, "part-0.parquet"))
            _STREAM_DIRS[ap] = d
        return d
    return path


def _run_available_now(
    spark: SparkSession, agg: DataFrame, query_name: str
) -> DataFrame:
    """Finalize a streaming aggregation: memory sink + availableNow +
    complete output, then materialize and DROP the sink table (repeated
    runs with fresh query names would otherwise pin one in-memory
    result table each; the sink result is a finalized windowed agg —
    small by construction)."""
    q = (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    tbl = spark.table(query_name)
    rows = tbl.collect()
    schema = tbl.schema
    spark.catalog.dropTempView(query_name)
    return spark.createDataFrame(rows, schema)


def windowed_events_stream(
    spark: SparkSession,
    events_dir: str,
    query_name: str = "windowed_events_stream",
) -> DataFrame:
    """The REAL Structured-Streaming form of
    :func:`windowed_event_counts`: readStream → watermark → windowed
    aggregation → memory sink, availableNow trigger, complete output
    (a bounded replay finalizes every window). Oracled by the driver's
    ``s_windowed_stream`` entry against the SAME SQL as the batch form
    — a streaming==batch equivalence check."""
    events_dir = ensure_stream_dir(events_dir)
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    # watermarks require TIMESTAMP (ltz); parquet event times load as
    # NTZ — the cast is identity under the engine's UTC session tz
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = windowed_event_counts(stream)
    return _run_available_now(spark, agg, query_name)


def windowed_event_counts(events: DataFrame, window: str = WINDOW) -> DataFrame:
    """Streaming-shaped windowed aggregation (works on batch DFs too):
    per (window, event_type) counts + value sums; a stream is
    watermarked at ``WATERMARK``."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", WATERMARK)
    return src.groupBy(F.window("ts", window).alias("win"), "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")
    )


def trending_terms_stream(
    spark: SparkSession,
    docs_path: str,
    query_name: str = "trending_terms_stream",
) -> DataFrame:
    """Streaming trending terms: readStream over the document feed →
    event-time watermark → per-(window, token) counts, availableNow
    (a bounded replay finalizes every window). The curation-ops view
    of a live crawl: which terms spike in which ingestion window.

    Tokens ride the same lowercase/whitespace tokenization the LM
    family uses (one explode — the only per-token cost); the windowed
    count is the standard watermarked streaming aggregation, state
    bounded by (windows in flight × distinct tokens per window).
    ``TRENDING_MIN_COUNT`` prunes the Zipf tail at the sink. Event time
    derives deterministically from doc_id (the synthetic feed has no
    timestamp column) — a row-local cast both the stream and the
    batch/DuckDB twin compute identically.
    """
    docs_dir = ensure_stream_dir(docs_path)
    schema = spark.read.parquet(docs_dir).schema
    stream = spark.readStream.schema(schema).parquet(docs_dir)
    stream = stream.withColumn(
        "ts",
        F.to_timestamp(F.lit("2026-01-01 00:00:00"))
        + F.make_interval(mins=F.col("doc_id").cast("int")),
    ).withWatermark("ts", TRENDING_WATERMARK)
    from ..operators.tokenize import words_of

    toks = stream.select(
        "ts", F.explode(words_of(F.col("text"))).alias("token")
    )
    agg = (
        toks.groupBy(F.window("ts", TRENDING_WINDOW).alias("win"), "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= TRENDING_MIN_COUNT)
    )
    return _run_available_now(spark, agg, query_name)
