"""SparkSession factory tuned for the KG-construction workload.

Local-mode defaults mirror what we would submit on a real cluster via
``spark-submit --py-files`` (AQE on, skew-join on, Arrow on, shuffle
partitions sized to cores). On a 1000-executor cluster only
``spark.sql.shuffle.partitions`` / memory sizing change; the plans are
identical because everything below is declarative DataFrame/SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: spark.sql.objectHashAggregate.sortBased.fallbackThreshold: in-memory
#: groups per partition before ObjectHashAggregate (collect_set /
#: collect_list aggs) falls back to sort-based aggregation. Spark's
#: default is 128; every KG merge partition holds 10k+ groups of small
#: bounded state (capped sorted sets), so the fallback's per-partition
#: sort is pure overhead (~8% on the edge merge, measured). Every
#: collect aggregate in this engine is order-free (array_sort/
#: array_min-wrapped), so the aggregation mode cannot affect results.
#: Memory-constrained deployments override it through ``extra_conf``.
OBJ_AGG_FALLBACK_THRESHOLD = 1 << 20


def _default_driver_mem() -> str:
    """min(16g, half the host's MemTotal). Xms = Xmx (below) commits the
    whole heap at JVM start, so a fixed 16g cannot launch on a host with
    16 GiB of RAM or less; hosts without /proc/meminfo keep 16g."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    # kB → MiB, halved
                    return f"{min(16 << 10, int(line.split()[1]) >> 11)}m"
    except OSError:
        pass
    return "16g"


def get_spark(
    app_name: str = "graphrag_kb_server_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cpus: local parallelism (defaults to $SPARK_GRAFT_CPUS or '*').
    shuffle_partitions: defaults to cpus (local rule-of-thumb: ~cores,
    not the 200 default which over-parallelizes small local runs and
    under-parallelizes cluster runs; on a real cluster this is set to
    ~2-3x total executor cores and AQE coalesces from there).
    """
    if cpus is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS", "")
        cpus = int(cpus_env) if cpus_env.isdigit() else 0
    master = f"local[{cpus}]" if cpus else "local[*]"
    n_shuffle = shuffle_partitions or (cpus if cpus else 32)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.default.parallelism", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep Arrow batches big enough to amortize Python worker startup
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_mem)
        # Xms = Xmx: G1 commit/uncommit churn on a growing heap causes
        # madvise/TLB-shootdown storms (observed 89% system time with 32
        # runnable executor threads on this 32-vCPU VM) — a fixed-size
        # heap eliminates it
        .config("spark.driver.defaultJavaOptions", "-Xms" + driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            str(OBJ_AGG_FALLBACK_THRESHOLD),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # The query-path merge/truncation/polling operators rank BOUNDED
    # (top-k-limited by construction) inputs with global-ordering
    # windows — functions/windows.bounded_global documents the
    # contract. WindowExec warns "No Partition Defined" on every
    # execution of those by design-single-partition windows (a constant
    # partitionBy key is constant-folded away, so the warning cannot be
    # avoided plan-side); demote that one logger so real warnings stay
    # readable in bench/driver tails.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.log4j.LogManager.getLogger(
            "org.apache.spark.sql.execution.window.WindowExec"
        ).setLevel(jvm.org.apache.log4j.Level.ERROR)
    except Exception:
        pass  # log4j1 bridge absent — warnings are cosmetic only
    return spark
