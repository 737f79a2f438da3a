"""Small graph-support operators.

- G7 entity-type histogram
  (/root/reference/graphrag_kb_server/service/lightrag/lightrag_graph_support.py:48-52)
- P3 abbreviation detection feeds linking (see operators/linking.py)
- P8 topics projection from the centrality table
  (service/topic_generation.py:48-66)
- ``collect_if_small``: the one driver-vs-distributed gate of the
  size-adaptive graph operators
"""

from __future__ import annotations

import logging

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def collect_if_small(
    df: DataFrame,
    cap: int,
    op: str,
    rows: bool = False,
) -> pd.DataFrame | list | None:
    """The size-adaptive gate: ``df`` as a pandas frame (with ``rows``,
    as a list of Rows) when it has at most ``cap`` rows, else ``None``.

    The iterative graph operators (components, betweenness, PageRank,
    HITS, LPA, modularity refinement) and linking each have a driver
    twin that runs the same rules in-process. A distributed round over
    a graph of a few thousand edges pays seconds of per-round
    scheduling for microseconds of work, so small inputs are collected
    once and run driver-side; larger ones keep the distributed rounds,
    whose output the twins match (tests/test_r06_driver_parity.py pins
    each pair). ``cap`` bounds the collect in the caller's unit of
    ``df``.

    One bounded ``limit(cap + 1)`` collect decides: when it comes back
    complete it IS the driver path's input, so no separate ``count()``
    job runs. ``cap <= 0`` forces the distributed path and runs no
    Spark job. Each decision is logged as one record whose ``args`` are
    ``{op, probed_rows, cap, path}``. ``rows=True`` collects instead of
    going through pandas, so values stay exactly what ``Row`` gives
    (``datetime``, ``None``, lists) with no NaN or NaT.
    """
    probe = None
    if cap > 0:
        limited = df.limit(cap + 1)
        probe = limited.collect() if rows else limited.toPandas()
    small = probe is not None and len(probe) <= cap
    log.info(
        "%(op)s: %(probed_rows)s probed rows, cap %(cap)s -> %(path)s path",
        {
            "op": op,
            "probed_rows": 0 if probe is None else len(probe),
            "cap": cap,
            "path": "driver" if small else "distributed",
        },
    )
    return probe if small else None


def entity_type_histogram(nodes: DataFrame) -> DataFrame:
    return (
        nodes.groupBy(F.col("type").alias("entity_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "entity_type")
    )


def topics(centrality_table: DataFrame) -> DataFrame:
    """P1/P8 — centrality-ranked topic candidates: the SAME selection
    as personalization.candidate_entities with its defaults (all types,
    the top 100; one implementation — the two surfaces must not drift
    on tie-breaks), re-projected to the topics shape."""
    from .personalization import candidate_entities

    return candidate_entities(centrality_table).select(
        F.col("entity_id").alias("name"), "description", F.col("entity_type").alias("type")
    )
