"""The indexing pipeline: web_pages → chunks/mentions/nodes/edges/embeddings.

Reference lifecycle (SURVEY.md §3.2): unzip/crawl → per-file sanitize →
``rag.ainsert`` (chunk → LLM extract → merge → embed → persist), with
per-doc status tracking for resume
(/root/reference/graphrag_kb_server/service/lightrag/lightrag_index_support.py:74-94,
kv_store_doc_status.json artifact).

Spark design: each stage materializes a table through a format-
parametric IO seam (``_write``/``_read_table``/``_exists``, switched by
``KGSPARK_TABLE_FORMAT``): parquet by default, ORC covered by tests,
and an Iceberg branch (``writeTo(...).using("iceberg")`` with catalog
identifiers) for cluster deployments with the runtime jar — the jars
aren't in this sandbox image, so that branch is exercised only by the
shared-seam ORC test. Stage boundaries are the
two salted groupBys and the writes; every stage is idempotently
resumable: reruns skip stages whose output already exists (doc-level
incremental indexing is an anti-join against ``doc_status``, T9).

Outputs of one step are written as concurrent driver actions
(``documents``‖``chunks``, ``nodes_raw``‖``edges_raw``,
``nodes_pre``‖``edges_pre``, ``nodes``‖``edges``, the three embedding
tables‖``doc_status``), and each stage is read back with the schema of
the frame just written, so no schema-inference job follows a write;
only a stage skipped on resume is read with inference.

Per-partition lineage + metrics: every write is accompanied by a
``_metrics`` row set (stage, rows, partitions, wall seconds) appended to
``metrics`` — the reference's TB_* telemetry sidecar analogue. The
``canonical_map:lsh_buckets`` row comes from ``canonical_map`` itself
when it links on the driver (the buckets it already built) and from
``candidate_bucket_stats`` when it takes the distributed path.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions import text as TXT
from ..functions.embedding import embed_udf
from ..operators.chunking import chunk_documents
from ..operators.extraction import extract_mentions
from ..operators.graph_build import build_edges, build_nodes, finalize_graph
from ..operators.linking import (
    candidate_bucket_stats,
    canonical_map,
    canonicalize_graph,
)

#: canonical stage order — the single source of truth for the metrics
#: sidecar sort (run_index) and for tooling that lists stage tables.
#: "canonical_map:lsh_buckets" is the blocking-health metrics row
#: emitted alongside the canonical_map stage, not a table.
STAGES = [
    "documents",
    "chunks",
    "mentions",
    "nodes_raw",
    "edges_raw",
    "canonical_map:lsh_buckets",
    "canonical_map",
    "nodes_pre",
    "edges_pre",
    "nodes",
    "edges",
    "chunk_embeddings",
    "entity_embeddings",
    "relation_embeddings",
    "doc_status",
]


def _table_format() -> str:
    """Stage-table format: 'parquet' (default) or 'orc' — both in the
    sandbox image and covered by tests — or 'iceberg' for cluster
    deployments with the runtime jar on the classpath (out_dir is then
    a catalog namespace such as ``catalog.db``; stage names become
    table identifiers). Every stage write/read/exists goes through the
    three seam functions below, so the swap is the env var, not a code
    change."""
    return os.environ.get("KGSPARK_TABLE_FORMAT", "parquet")


def _is_iceberg() -> bool:
    return _table_format() == "iceberg"


def _ident(path: str) -> str:
    # file formats address stages by directory; iceberg by table ident
    return path.replace("/", ".").lstrip(".") if _is_iceberg() else path


def _read_table(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Read a stage table. A file-format read given the ``schema`` of the
    frame that was written skips schema inference, which for parquet is
    a Spark job over the file footers."""
    if _is_iceberg():
        return spark.read.table(_ident(path))
    reader = spark.read.format(_table_format())
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


@dataclass
class IndexResult:
    out_dir: str
    metrics: list[dict] = field(default_factory=list)


def _is_remote(path: str) -> bool:
    # any URI-schemed path (hdfs://, s3a://, gs://, ...) — the local
    # os.path family cannot see these
    return "://" in path and not path.startswith("file://")


def _exists(path: str, spark: SparkSession | None = None) -> bool:
    if _is_iceberg():
        return spark is not None and spark.catalog.tableExists(_ident(path))
    if _is_remote(path):
        if spark is None:
            return False
        # Hadoop FS check — os.path.exists is always False for remote
        # URIs, which would silently disable resume (every stage
        # recomputed on every rerun of a cluster job)
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(f"{path}/_SUCCESS")
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(hpath))
    return os.path.exists(f"{path}/_SUCCESS")


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small sidecar file to a local OR remote (hdfs/s3a) path
    — the metrics sidecar must not crash a cluster run at the very end
    because out_dir is not a local filesystem."""
    if not _is_remote(path):
        with open(path, "w") as f:
            f.write(text)
        return
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def ensure_parallelism(df: DataFrame, key: str | None = None) -> DataFrame:
    """Repartition iff the plan has fewer partitions than the session's
    shuffle parallelism. Parquet scans coalesce small files up to
    ``spark.sql.files.maxPartitionBytes`` — at sandbox scale a whole
    corpus can land in <8 scan partitions, and a one-row-group file in
    one, capping the compute-heavy stages Catalyst fuses into the scan
    (mapInPandas concurrency == input partitions). At real scale the
    scan gives ample partitions and this is a no-op.

    Round-robin by default; with ``key``, a hash repartition on that
    column, which skips round-robin's sort-before-repartition pass and
    is deterministic under task retry."""
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() < target:
        if key is None:
            return df.repartition(target)
        return df.repartition(target, F.col(key))
    return df


def _write(df: DataFrame, path: str) -> None:
    if _is_iceberg():
        df.writeTo(_ident(path)).using("iceberg").createOrReplace()
        return
    df.write.mode("overwrite").format(_table_format()).save(path)


def run_index(
    spark: SparkSession,
    web_pages: DataFrame,
    out_dir: str,
) -> IndexResult:
    """Run (or resume) the full indexing pipeline.

    A stage whose output already exists under ``out_dir`` is skipped
    (kill-and-rerun produces identical outputs: every stage is a pure
    function of its input tables — content-hash ids, sorted arrays,
    explicit tie-breaks). To rebuild from scratch, index into an empty
    ``out_dir``.
    """
    res = IndexResult(out_dir=out_dir)

    def _write_observed(name: str, df: DataFrame) -> None:
        """Write one stage output with a write-side row count: the
        Observation aggregates rows DURING the write action — no extra
        scan of the output (a per-stage ``count()`` re-read would double
        the pipeline's read volume at 100 TB)."""
        t0 = time.time()
        obs = Observation(f"stage:{name}")
        path = f"{out_dir}/{name}"
        _write(df.observe(obs, F.count(F.lit(1)).alias("rows")), path)
        # Written-file layout from the filesystem, NOT df.rdd: converting
        # an AQE plan to an RDD can finalize/re-execute its shuffle stages
        # (a silent second pass of the UDF work the Observation exists to
        # avoid), and the pre-write plan partitioning isn't the on-disk
        # layout anyway.
        if os.path.isdir(path):
            n_files = sum(
                1
                for _dir, _sub, files in os.walk(path)
                for fname in files
                if fname.startswith("part-")
            )
        else:
            # non-local out_dir (hdfs://, s3a://): os.walk can't see it;
            # record null so the sidecar distinguishes "unknown" from
            # "one file" instead of silently degrading to 0
            n_files = None
        res.metrics.append(
            {
                "stage": name,
                "skipped": False,
                "rows": obs.get["rows"],
                "partitions": n_files,
                "seconds": round(time.time() - t0, 3),
            }
        )

    def stages(names: list[str], build) -> list[DataFrame]:
        """Write the stages ``names`` from ``build()``, which returns one
        frame per name, and read them back.

        The frames are the outputs of one step: either one shared
        computation (canonicalized nodes+edges: build once, write both)
        or independent builds over already-written tables. Resume is per
        stage: a stage whose output exists is skipped, and ``build`` runs
        only when at least one stage is missing. The missing stages are
        written as concurrent driver actions from a small thread pool,
        which overlaps their scheduling and IO — on a cluster the
        standard multi-branch-DAG pattern (independent jobs fill
        executor slots the tail of a lone job leaves idle). The pool
        threads inherit the caller's Spark job group. list.append is
        atomic, so the metrics sidecar is merely order-jittered, and it
        is canonically re-sorted before the final dump.

        A written stage is read back with the schema of the frame just
        written — what parquet/ORC inference would return, since a file
        source read makes every field nullable either way — so no
        schema-inference job runs between a write and the next build.
        """
        paths = [f"{out_dir}/{n}" for n in names]
        todo = [n for n, p in zip(names, paths) if not _exists(p, spark)]
        res.metrics.extend(
            {"stage": n, "skipped": True} for n in names if n not in todo
        )
        schemas = {}
        if todo:
            frames = dict(zip(names, build()))
            # one wrap per write: each thread gets its own copy of the
            # caller's local properties (job group), not a shared one
            with ThreadPoolExecutor(max_workers=len(todo)) as ex:
                futs = [
                    ex.submit(
                        inheritable_thread_target(spark)(_write_observed),
                        n, frames[n],
                    )
                    for n in todo
                ]
                for fut in futs:
                    fut.result()
            schemas = {n: frames[n].schema for n in todo}
        return [_read_table(spark, p, schemas.get(n)) for n, p in zip(names, paths)]

    def stage(name: str, build) -> DataFrame:
        return stages([name], lambda: [build()])[0]

    # ── extract text (S2/T1: the byte-identical invariant) and T2
    #     chunking (narrow mapInPandas), written together: chunks is
    #     built from the documents plan, so the first mapInPandas (Python
    #     worker start) overlaps the first JVM job; the text extraction,
    #     JVM expressions, runs in both writes ────────────────────────
    def build_documents_and_chunks() -> list[DataFrame]:
        docs = web_pages.select(
            F.col("url"),
            F.col("warc_ts"),
            TXT.extract_text(F.col("text"), F.col("url")).alias("content"),
        ).withColumn("doc_id", TXT.doc_id(F.col("content")))
        return [docs, chunk_documents(ensure_parallelism(
            docs.select("doc_id", "content", F.col("url").alias("file_path"))
        ))]

    documents, chunks = stages(["documents", "chunks"], build_documents_and_chunks)

    # ── T3 extraction (LLM slot, mapInPandas) ────────────────────────
    mentions = stage("mentions", lambda: extract_mentions(ensure_parallelism(chunks)))

    # ── T4/T5 salted two-phase merges ────────────────────────────────
    nodes_raw, edges_raw = stages(
        ["nodes_raw", "edges_raw"],
        lambda: [build_nodes(mentions), build_edges(mentions)],
    )

    # ── entity linking + canonicalization (LSH → cosine → components) ─
    def build_mapping() -> DataFrame:
        # LSH blocking health: how many band buckets were split
        # (bounded sub-buckets, nothing dropped) — recorded in the
        # metrics sidecar alongside the stage row, only when the
        # stage actually runs. The driver path reports it from its
        # own buckets; the distributed path pays a small agg over
        # distinct entity names. Both names are looked up as module
        # globals so a caller can wrap them.
        stats: dict = {}
        mapping = canonical_map(nodes_raw, bucket_stats=stats)
        if not stats:
            stats = candidate_bucket_stats(
                nodes_raw.select(F.col("name")).distinct()
            ).first().asDict()
        res.metrics.append({"stage": "canonical_map:lsh_buckets", **stats})
        return mapping

    mapping = stage("canonical_map", build_mapping)
    nodes_c, edges_c = stages(
        ["nodes_pre", "edges_pre"],
        lambda: canonicalize_graph(nodes_raw, edges_raw, mapping),
    )

    # ── T7 degrees (one shared degree computation for both outputs) ──
    nodes, edges = stages(
        ["nodes", "edges"], lambda: finalize_graph(nodes_c, edges_c)
    )

    # ── T6 embeddings (LLM slot, pandas UDF; content formats mirror
    #     vdb_* observed shapes: entity = name\ndescription) ──────────
    def build_chunk_embeddings() -> DataFrame:
        return chunks.select(
            "chunk_id", embed_udf(F.col("content")).alias("embedding")
        ).dropDuplicates(["chunk_id"])

    def build_entity_embeddings() -> DataFrame:
        return nodes.select(
            "name",
            embed_udf(
                F.concat_ws("\n", F.col("name"), F.col("description"))
            ).alias("embedding"),
        )

    def build_relation_embeddings() -> DataFrame:
        return edges.select(
            "src",
            "tgt",
            embed_udf(
                F.concat_ws(
                    "\n",
                    F.concat_ws("\t", F.col("src"), F.col("tgt")),
                    F.col("keywords"),
                    F.col("description"),
                )
            ).alias("embedding"),
        )

    # ── T8 doc_status lineage ────────────────────────────────────────
    def build_doc_status() -> DataFrame:
        per_doc = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("chunks_count"))
        # updated_at is the doc's own warc_ts — NOT current_timestamp(),
        # which would break the kill-and-rerun-produces-identical-outputs
        # invariant
        return (
            documents.join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                F.col("url").alias("file_path"),
                F.coalesce("chunks_count", F.lit(0)).cast("int").alias("chunks_count"),
                F.length("content").alias("content_length"),
                F.substring("content", 1, 120).alias("content_summary"),
                F.lit("processed").alias("status"),
                F.col("warc_ts").alias("updated_at"),
            )
        )

    stages(
        ["chunk_embeddings", "entity_embeddings", "relation_embeddings",
         "doc_status"],
        lambda: [build_chunk_embeddings(), build_entity_embeddings(),
                 build_relation_embeddings(), build_doc_status()],
    )

    # canonical sidecar order regardless of concurrent completion order
    order = {n: i for i, n in enumerate(STAGES)}
    res.metrics.sort(key=lambda m: order.get(m.get("stage"), len(STAGES)))
    if not _is_iceberg():
        _write_text(
            spark, f"{out_dir}/metrics.json", json.dumps(res.metrics, indent=1)
        )
    return res


def incremental_docs(web_pages_docs: DataFrame, doc_status: DataFrame) -> DataFrame:
    """T9 — documents not yet processed: anti-join on doc_id (the
    reference's filename-match incremental indexing, idempotent)."""
    done = doc_status.where(F.col("status") == "processed").select("doc_id")
    return web_pages_docs.join(done, "doc_id", "left_anti")
