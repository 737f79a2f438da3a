"""Supplementary measurement harness for OPTIMIZATION_r06.md (guide
§1.4): noop-sink isolation per query plus the stage-level breakdowns
the round's decisions were made on. NOT part of the driver contract —
bench.py stays the frozen official harness; this file only reproduces
the evidence numbers.

Usage:
    python bench_extra.py queries [name ...]   # noop-isolated repeats
    python bench_extra.py index                # kg_index stage laps

Per-stage kg_query latency is ``QueryContext.stage_s`` (bench.py reports
it as ``query_stages``).
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPEATS = int(os.environ.get("BENCH_EXTRA_REPEATS", "3"))


def _spark():
    from graphrag_kb_server_spark.session import get_spark

    return get_spark("bench_extra", cpus=CPUS, shuffle_partitions=max(CPUS, 8))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def cmd_queries(names: list[str]) -> None:
    import __spark_entry__ as entrymod

    spark = _spark()
    qs = entrymod.queries()
    names = names or sorted(qs)
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        try:
            _noop(qs[name](spark, SF_DIR))  # warm
            runs = []
            for _ in range(REPEATS):
                t0 = time.time()
                _noop(qs[name](spark, SF_DIR))
                runs.append(round(time.time() - t0, 3))
            print(f"{name}: {runs}", flush=True)
        except Exception as e:  # streaming entries etc. may need dirs
            print(f"{name}: ERROR {type(e).__name__}: {e}", flush=True)
        finally:
            spark.sparkContext.setJobDescription(None)


def cmd_index() -> None:
    """Per-stage laps of the bench's kg_index chain (same shape as
    bench.bench_kg_index, with a timer after each eager checkpoint)."""
    import bench as benchmod
    from graphrag_kb_server_spark.functions import text as TXT
    from graphrag_kb_server_spark.operators.chunking import chunk_documents
    from graphrag_kb_server_spark.operators.extraction import extract_mentions
    from graphrag_kb_server_spark.operators.graph_build import (
        build_edges,
        build_nodes,
        finalize_graph,
    )
    from graphrag_kb_server_spark.operators.linking import (
        canonical_map,
        canonicalize_graph,
    )
    from graphrag_kb_server_spark.plans.index_pipeline import ensure_parallelism

    spark = _spark()
    n_docs = int(os.environ.get("BENCH_DOCS", "5000"))
    corpus_path = benchmod._ensure_corpus(spark, n_docs)
    for rep in range(REPEATS):
        pages = ensure_parallelism(spark.read.parquet(corpus_path))
        t = [time.time()]

        def lap(name):
            t.append(time.time())
            print(f"  {name}: {t[-1] - t[-2]:.3f}s", flush=True)

        docs = pages.select(
            "url", TXT.extract_text(F.col("text"), F.col("url")).alias("content")
        ).withColumn("doc_id", TXT.doc_id(F.col("content"))).withColumn(
            "file_path", F.col("url")
        )
        chunks = chunk_documents(docs).localCheckpoint(eager=True)
        lap("chunks")
        mentions = extract_mentions(chunks).localCheckpoint(eager=True)
        lap("mentions")
        nodes_raw = build_nodes(mentions).localCheckpoint(eager=True)
        lap("nodes_raw")
        edges_raw = build_edges(mentions).localCheckpoint(eager=True)
        lap("edges_raw")
        mapping = canonical_map(nodes_raw).localCheckpoint(eager=True)
        lap("canonical_map")
        nodes_c, edges_c = canonicalize_graph(nodes_raw, edges_raw, mapping)
        ec = edges_c.localCheckpoint(eager=True)
        lap("edges_c")
        nodes, edges = finalize_graph(nodes_c, ec)
        _noop(nodes)
        lap("nodes_noop")
        _noop(edges)
        lap("edges_noop")
        print(f"  rep{rep} TOTAL: {t[-1] - t[0]:.3f}s", flush=True)


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if cmd == "index":
        cmd_index()
    else:
        cmd_queries(sys.argv[2:])
