"""G8 — community report generation.

Reference: per community, an LLM generates (name, description,
node_descriptions) from member-node descriptions, batched 5 at a time
with 3 retries
(/root/reference/graphrag_kb_server/service/lightrag/lightrag_clustering.py:34-72,
prompt + structured output :118-165).

Spark design: communities × member descriptions assembled with joins,
then ONE ``mapInPandas`` stage over community rows — Arrow batching IS
the reference's batch-of-5 (sized by maxRecordsPerBatch); retries live
inside the hook. Deterministic stand-in: a template report from the
top member descriptions.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

REPORT_SCHEMA = (
    "cluster string, level int, size bigint, title string, summary string, "
    "rank double"
)

#: members per community in the report prompt payload
MAX_MEMBERS = 10


def community_inputs(assignments: DataFrame, nodes: DataFrame) -> DataFrame:
    """(cluster, level, size, member_names ARRAY, member_descs ARRAY) —
    the per-community prompt payload; members capped deterministically
    by degree desc then name (the reference prompts with member node
    descriptions)."""
    members = assignments.join(
        nodes.select(F.col("name").alias("node"), "description", "degree"), "node"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("level", "cluster").orderBy(
        F.desc("degree"), "node"
    )
    top = members.withColumn("_rk", F.row_number().over(w)).where(
        F.col("_rk") <= MAX_MEMBERS
    )
    return top.groupBy("level", "cluster").agg(
        F.count(F.lit(1)).alias("n_top"),
        F.array_sort(F.collect_list("node")).alias("member_names"),
        F.slice(F.array_sort(F.collect_list("description")), 1, MAX_MEMBERS).alias(
            "member_descs"
        ),
    ).join(
        assignments.groupBy("level", "cluster").agg(F.count(F.lit(1)).alias("size")),
        ["level", "cluster"],
    )


def generate_reports(inputs: DataFrame, report_fn=None) -> DataFrame:
    """The LLM slot: one report row per community."""

    def default_fn(cluster, member_names, member_descs, size) -> tuple[str, str, float]:
        title = f"Community of {member_names[0]}" if len(member_names) else cluster
        summary = " | ".join(d.split("<SEP>")[0][:80] for d in member_descs[:3])
        rank = min(float(size) / 10.0, 10.0)
        return (title, summary, rank)

    fn = report_fn or default_fn

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                title, summary, rank = fn(
                    r["cluster"], list(r["member_names"]),
                    list(r["member_descs"]), int(r["size"]),
                )
                rows.append(
                    {
                        "cluster": r["cluster"],
                        "level": int(r["level"]),
                        "size": int(r["size"]),
                        "title": title,
                        "summary": summary,
                        "rank": float(rank),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["cluster", "level", "size", "title", "summary", "rank"]
            )

    return inputs.mapInPandas(run, schema=REPORT_SCHEMA)
