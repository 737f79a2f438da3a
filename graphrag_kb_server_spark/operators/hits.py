"""HITS hubs & authorities (Kleinberg 1999) — the link-analysis twin
of :func:`~graphrag_kb_server_spark.operators.centrality.pagerank`.

A hub points at good authorities; an authority is pointed at by good
hubs: per iteration ``a ← Aᵀh`` then ``h ← A·a`` with L2
renormalization of each vector. The reference has no HITS surface; on
a crawled corpus the pair complements PageRank for seed selection
(authorities) and crawl frontier scoring (hubs).

Spark shape — each half-step is ONE key-partitioned aggregation:

- authority update: edge frame joined to the hub scores on the SOURCE,
  summed keyed on the destination (map-side partial combine absorbs
  in-degree hubs);
- hub update: the mirror join/sum keyed on the source;
- each L2 norm is a 1-row aggregate broadcast back via crossJoin (no
  driver round-trip inside the loop); lazy localCheckpoints per round
  keep the logical plan linear, one driver action per stride (the
  pagerank/LPA schedule).

Up to ``driver_cap`` edges the rounds are scheduling-bound and run
driver-side (see ``graph_support.collect_if_small``) — same float64
update rule; callers compare on 6-dp-rounded scores where
summation-order ULPs vanish. 0 forces the distributed rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph_support import collect_if_small

#: power-iteration rounds (fixed, for determinism)
ITERATIONS = 20


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "tgt",
    weight: str | None = None,
    driver_cap: int = 200_000,
) -> DataFrame:
    """Returns ``(name, hub, authority)`` for every edge endpoint,
    L2-normalized per vector and rounded to 6 dp, sorted by authority
    desc, after ``ITERATIONS`` rounds."""
    w = (
        F.col(weight).cast("double") if weight is not None else F.lit(1.0)
    )
    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_t"), w.alias("_w")
    ).localCheckpoint(eager=True)
    all_nodes = (
        e.select(F.col("_s").alias("name"))
        .unionByName(e.select(F.col("_t").alias("name")))
        .distinct()
    )

    epd = collect_if_small(e, driver_cap, "hits")
    if epd is not None:
        return _hits_driver(edges.sparkSession, all_nodes.schema, epd)
    all_nodes = all_nodes.localCheckpoint(eager=True)

    scores = all_nodes.select(
        "name", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority")
    ).localCheckpoint(eager=False)

    _STRIDE = 5
    for it in range(ITERATIONS):
        a_raw = (
            scores.select(F.col("name").alias("_s"), "hub")
            .join(e, "_s")
            .groupBy(F.col("_t").alias("name"))
            .agg(F.sum(F.col("hub") * F.col("_w")).alias("_ar"))
        )
        a_full = all_nodes.join(a_raw, "name", "left").select(
            "name", F.coalesce("_ar", F.lit(0.0)).alias("_ar")
        )
        a_norm = a_full.groupBy().agg(
            F.sqrt(F.sum(F.col("_ar") * F.col("_ar"))).alias("_na")
        )
        auth = a_full.crossJoin(F.broadcast(a_norm)).select(
            "name",
            F.when(F.col("_na") == 0.0, F.lit(0.0))
            .otherwise(F.col("_ar") / F.col("_na"))
            .alias("authority"),
        )
        h_raw = (
            auth.select(F.col("name").alias("_t"), "authority")
            .join(e, "_t")
            .groupBy(F.col("_s").alias("name"))
            .agg(F.sum(F.col("authority") * F.col("_w")).alias("_hr"))
        )
        h_full = all_nodes.join(h_raw, "name", "left").select(
            "name", F.coalesce("_hr", F.lit(0.0)).alias("_hr")
        )
        h_norm = h_full.groupBy().agg(
            F.sqrt(F.sum(F.col("_hr") * F.col("_hr"))).alias("_nh")
        )
        hub = h_full.crossJoin(F.broadcast(h_norm)).select(
            "name",
            F.when(F.col("_nh") == 0.0, F.lit(0.0))
            .otherwise(F.col("_hr") / F.col("_nh"))
            .alias("hub"),
        )
        scores = hub.join(auth, "name").localCheckpoint(eager=False)
        if (it + 1) % _STRIDE == 0 and it + 1 < ITERATIONS:
            scores.count()  # materialize the lazy-checkpoint group

    return scores.select(
        "name", F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    ).orderBy(F.desc("authority"), "name")


def _hits_driver(spark, nodes_schema, epd) -> DataFrame:
    """Same update rule over the collected edges (_s, _t, _w); the node
    set is their endpoints. Preserves the caller's name dtype via the
    nodes frame's schema."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    ends = pd.concat([epd["_s"], epd["_t"]], ignore_index=True).drop_duplicates()
    nodes_pd = ends.sort_values().reset_index(drop=True).to_frame("name")
    ix = {v: i for i, v in enumerate(nodes_pd["name"])}
    s = np.fromiter((ix[v] for v in epd["_s"]), dtype=np.int64,
                    count=len(epd))
    t = np.fromiter((ix[v] for v in epd["_t"]), dtype=np.int64,
                    count=len(epd))
    w = epd["_w"].to_numpy(dtype=np.float64)
    n = len(nodes_pd)
    hub = np.ones(n)
    auth = np.ones(n)
    for _ in range(ITERATIONS):
        a_raw = np.zeros(n)
        np.add.at(a_raw, t, hub[s] * w)
        na = np.sqrt((a_raw * a_raw).sum())
        auth = a_raw / na if na > 0 else a_raw
        h_raw = np.zeros(n)
        np.add.at(h_raw, s, auth[t] * w)
        nh = np.sqrt((h_raw * h_raw).sum())
        hub = h_raw / nh if nh > 0 else h_raw
    # HALF_UP like the distributed path's F.round (np.round is
    # binary half-even — divergence at decimal-half boundaries)
    from decimal import ROUND_HALF_UP, Decimal

    def _r6(x: float) -> float:
        return float(
            Decimal(repr(float(x))).quantize(Decimal("1e-6"), ROUND_HALF_UP)
        )

    nodes_pd["hub"] = [_r6(v) for v in hub]
    nodes_pd["authority"] = [_r6(v) for v in auth]
    schema = T.StructType(
        list(nodes_schema.fields)
        + [
            T.StructField("hub", T.DoubleType(), False),
            T.StructField("authority", T.DoubleType(), False),
        ]
    )
    return spark.createDataFrame(nodes_pd, schema=schema).orderBy(
        F.desc("authority"), "name"
    )
