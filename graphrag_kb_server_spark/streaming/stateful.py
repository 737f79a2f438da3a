"""Custom stateful streaming operator — ``applyInPandasWithState``.

The engine's sessionization exists as a batch lag+cumsum window
(driver entry ``s_sessionize``); this module provides the same
semantics as a STATEFUL STREAMING operator, the Structured-Streaming
shape a continuously-arriving event feed needs at scale: state is one
tiny tuple per user (last event epoch, session count, event count),
partitioned by the group key, no unbounded buffering.

Equivalence contract (oracled by the ``s_sessionize_stateful`` driver
entry against the SAME DuckDB SQL as the batch path): an availableNow
run over the events table yields exactly the batch computation's
(user_id, n_sessions, n_events).

Cross-batch ordering caveat (documented, not hidden): gap-based
sessionization is order-sensitive, so with multiple micro-batches the
state merge assumes batches arrive in event-time order per user — in a
production topology that is the upstream watermark/ordering guarantee
(e.g. a Kafka source keyed by user with in-partition time order). The
availableNow file pass here processes all files in one micro-batch, so
the equivalence check is deterministic.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

OUTPUT_SCHEMA = "user_id bigint, n_sessions bigint, n_events bigint"
STATE_SCHEMA = "last_ts bigint, n_sessions bigint, n_events bigint"
#: a gap longer than this many seconds starts a new session
GAP_SECONDS = 1800


def _session_fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    if state.exists:
        last_ts, n_sessions, n_events = state.get
    else:
        last_ts, n_sessions, n_events = None, 0, 0
    batch = pd.concat(list(pdfs), ignore_index=True)
    # same order the batch window uses: (ts, event_id)
    batch = batch.sort_values(["ts", "event_id"])
    for t in batch["ts"]:
        # mirror F.unix_timestamp: whole epoch seconds (UTC session tz)
        epoch = int(t.timestamp())
        if last_ts is None or (epoch - last_ts) > GAP_SECONDS:
            n_sessions += 1
        last_ts = epoch
    n_events += len(batch)
    state.update((last_ts, n_sessions, n_events))
    yield pd.DataFrame(
        [
            {
                "user_id": key[0],
                "n_sessions": n_sessions,
                "n_events": n_events,
            }
        ]
    )


def sessionize_stateful(
    spark: SparkSession,
    events_dir: str,
    query_name: str = "sessionize_stateful",
) -> DataFrame:
    """availableNow stateful sessionization over an events parquet dir.

    Returns the final per-user (user_id, n_sessions, n_events) rows
    (latest update per user from the memory sink).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .incremental import ensure_stream_dir

    events_dir = ensure_stream_dir(events_dir)
    schema = spark.read.parquet(events_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(events_dir)
        .select("user_id", "ts", "event_id")
    )

    out = stream.groupBy("user_id").applyInPandasWithState(
        _session_fold,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sink = spark.table(query_name)
    # latest update per user (single-batch availableNow emits exactly
    # one row per user; the max-aggregation keeps this robust if a
    # source with several files ever splits into micro-batches, since
    # counts are monotonically non-decreasing per update).
    # Materialize + DROP the memory-sink table so repeated runs with
    # fresh query names don't each pin an in-memory result table.
    from pyspark.sql import functions as F

    agg = sink.groupBy("user_id").agg(
        F.max("n_sessions").alias("n_sessions"),
        F.max("n_events").alias("n_events"),
    )
    rows = agg.collect()
    schema = agg.schema
    spark.catalog.dropTempView(query_name)
    return spark.createDataFrame(rows, schema)
