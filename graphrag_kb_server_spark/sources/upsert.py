"""S8 — keyed upsert (MERGE) into a parquet-backed table.

Reference analogue: the server's Postgres DAOs upsert path-properties /
topics by key (e.g. ON CONFLICT in
/root/reference/graphrag_kb_server/service/db/db_persistence_path_properties.py);
the engine's system of record is a table, so MERGE here is
copy-on-write: new = updates ∪ (current ⟕̸ updates on key) written to a
versioned directory, then the `current` pointer flips. That is exactly
the strategy an Iceberg/Delta MERGE INTO executes (rewrite affected
files + atomic metadata swap) minus the manifest log — on a real
lakehouse catalog the body of :func:`upsert` collapses to
``updates.createOrReplaceTempView("u"); spark.sql("MERGE INTO t USING u
ON ... WHEN MATCHED THEN UPDATE ... WHEN NOT MATCHED THEN INSERT *")``.

Scale notes:
- the anti-join shuffles on the key — at 100 TB partition/bucket the
  table by the merge key so the join co-locates and only affected
  partitions rewrite (the Iceberg/Delta MERGE above does that).
- last-write-wins inside one batch of updates is made explicit with
  ``order_col`` (max wins) — never implicit row order.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_VERSION_COUNTER = 0

_POINTER = "_current.json"


def _current_version(table_dir: str) -> str | None:
    ptr = f"{table_dir}/{_POINTER}"
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return json.load(f)["version"]


def read_table(spark: SparkSession, table_dir: str) -> DataFrame | None:
    """Read the current version of an upsert table (None if empty)."""
    v = _current_version(table_dir)
    if v is None:
        return None
    return spark.read.parquet(f"{table_dir}/{v}")


def upsert(
    spark: SparkSession,
    updates: DataFrame,
    table_dir: str,
    keys: list[str],
    order_col: str,
) -> DataFrame:
    """MERGE ``updates`` into the table at ``table_dir`` by ``keys``:
    matched rows are replaced, unmatched inserted; within the batch the
    max ``order_col`` row per key wins. Returns the new current table.
    Kill-safe: the new version is fully written before the pointer
    flips; a crash leaves the previous version current."""
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
    updates = (
        updates.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )
    current = read_table(spark, table_dir)
    merged = (
        updates
        if current is None
        else current.join(updates.select(*keys), keys, "left_anti").unionByName(
            updates
        )
    )
    # version id must be unique even under same-millisecond calls or a
    # stepped-back clock: a colliding name would let mode=overwrite
    # clobber the directory the live pointer targets, breaking the
    # kill-safety contract. pid + a per-process counter make collisions
    # impossible for a single writer. NOTE: the store is single-writer
    # by contract (it mirrors the reference's per-project Postgres
    # upsert, which serializes on the DB) — two concurrent writers race
    # the read-merge-flip sequence and the last pointer flip wins,
    # losing the other's rows; use a real table format (Iceberg MERGE)
    # where concurrent writers are required.
    global _VERSION_COUNTER
    _VERSION_COUNTER += 1
    version = (
        f"v{int(time.time() * 1000):x}-{os.getpid():x}-{_VERSION_COUNTER:x}"
    )
    os.makedirs(table_dir, exist_ok=True)
    merged.write.mode("overwrite").parquet(f"{table_dir}/{version}")
    tmp = f"{table_dir}/{_POINTER}.tmp"
    with open(tmp, "w") as f:
        json.dump({"version": version}, f)
    os.replace(tmp, f"{table_dir}/{_POINTER}")  # atomic pointer flip
    return spark.read.parquet(f"{table_dir}/{version}")
