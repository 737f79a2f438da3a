"""The measured process of one benchmark run.

``run.py`` starts this file in a fresh interpreter for every run and
passes a JSON spec path. It starts Spark through the public session
factory, indexes the workload's corpus with ``run_index``, serves a
closed loop of requests with ``kg_query`` / ``answer_query``, checks
every output, and writes its raw measurements to ``spec["result"]``.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from inputs import REQUEST_KINDS, request_text  # noqa: E402

#: stage tables run_index writes (STAGES minus the blocking-metrics row)
INDEX_TABLES = [
    "documents", "chunks", "mentions", "nodes_raw", "edges_raw",
    "canonical_map", "nodes_pre", "edges_pre", "nodes", "edges",
    "chunk_embeddings", "entity_embeddings", "relation_embeddings",
    "doc_status",
]


def _canon(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, float):
        return format(v, ".9g")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v)


def _column_parts(col: pa.ChunkedArray) -> list[bytes]:
    col = col.combine_chunks()
    if pa.types.is_list(col.type) and pa.types.is_floating(col.type.value_type):
        # embedding vectors: round and hash the raw doubles (+0.0 folds -0.0)
        off = col.offsets.to_numpy()
        vals = np.round(col.values.to_numpy(zero_copy_only=False), 7) + 0.0
        return [vals[off[i]:off[i + 1]].tobytes() for i in range(len(col))]
    return [_canon(v).encode() for v in col.to_pylist()]


def table_hash(table: pa.Table) -> str:
    """Order-free content hash: the sum of per-row digests. Floats are
    rounded first, so aggregation order cannot change the hash."""
    cols = [_column_parts(table.column(n)) for n in sorted(table.column_names)]
    acc = 0
    for parts in zip(*cols):
        acc += int.from_bytes(hashlib.md5(b"\x1f".join(parts)).digest(), "big")
    return f"{table.num_rows}:{acc % (1 << 128):032x}"


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*")
               if f.is_file() and not f.name.startswith((".", "_")))


def check_index(out_dir: Path, urls: list[str]) -> dict:
    """Hash every stage table and check the structural invariants."""
    hashes, rows, problems = {}, {}, []
    tables = {}
    for name in INDEX_TABLES:
        t = pq.read_table(out_dir / name)
        tables[name] = t
        hashes[name] = table_hash(t)
        rows[name] = t.num_rows
    tables = {n: tables[n].to_pylist() for n in ("doc_status", "nodes", "edges", "canonical_map")}
    status = tables["doc_status"]
    if sorted(r["file_path"] for r in status) != urls:
        problems.append("doc_status does not list every input doc exactly once")
    if any(r["status"] != "processed" for r in status):
        problems.append("doc_status has a doc not processed")
    names = {r["name"] for r in tables["nodes"]}
    dangling = sum(1 for e in tables["edges"]
                   if e["src"] not in names or e["tgt"] not in names)
    if dangling:
        problems.append(f"{dangling} edges name an endpoint that is not a node")
    if not names or not tables["edges"]:
        problems.append("empty graph")
    cmap = tables["canonical_map"]
    return {
        "hashes": hashes, "rows": rows, "problems": problems,
        "names_in": len(cmap),
        "names_merged": sum(1 for r in cmap if r["name"] != r["canonical_name"]),
        "bytes": sum(dir_bytes(out_dir / n) for n in INDEX_TABLES),
    }


def _rows_tokens(rows: list[dict], keys: tuple[str, ...]) -> int:
    from graphrag_kb_server_spark.tokenizer import count_tokens

    # the program counts F.to_json's compact form, which omits null fields
    return sum(count_tokens(json.dumps(
        {k: r[k] for k in keys if r.get(k) is not None},
        separators=(",", ":"), ensure_ascii=False)) for r in rows)


def check_request(kind: str, out, params) -> tuple[str, list[str]]:
    """(content hash, problems) for one request's result."""
    from graphrag_kb_server_spark.tokenizer import count_tokens

    problems = []
    if kind == "answer":
        raw = out["raw_data"]
        data, info = raw["data"], out["processing_info"]
        ents, rels, chunks = data["entities"], data["relationships"], data["chunks"]
        if raw.get("status") != "success":
            problems.append(f"answer status {raw.get('status')!r}")
        if not out.get("answer"):
            problems.append("empty answer")
        # the context the answer was built from; the answer text itself
        # echoes the request's unique tag, so it cannot be pinned
        digest_src = json.dumps([raw["data"], out["references"]],
                                sort_keys=True, default=str)
    else:
        ents, rels, chunks, info = out.entities, out.relations, out.chunks, out.processing_info
        digest_src = out.context_str()
    if _rows_tokens(ents, ("entity", "type", "description")) > params.max_entity_tokens:
        problems.append("entities exceed max_entity_tokens")
    if _rows_tokens(rels, ("entity1", "entity2", "description")) > params.max_relation_tokens:
        problems.append("relations exceed max_relation_tokens")
    if sum(count_tokens(c["content"]) for c in chunks) > max(info["available_chunk_tokens"], 0):
        problems.append("chunks exceed the chunk token budget")
    if not (ents or rels or chunks):
        problems.append("empty context")
    return hashlib.md5(digest_src.encode()).hexdigest(), problems


def graph_tables(spark, out_dir: Path):
    from pyspark.sql import functions as F
    from graphrag_kb_server_spark.plans.query_pipeline import GraphTables

    def rd(n):
        return spark.read.parquet(str(out_dir / n))

    return GraphTables(
        nodes=rd("nodes"), edges=rd("edges"), chunks=rd("chunks"),
        entity_embeddings=rd("entity_embeddings"),
        relation_embeddings=rd("relation_embeddings"),
        chunk_embeddings=rd("chunk_embeddings"),
        path_properties=rd("documents").select(
            F.col("url").alias("file_path"), F.col("warc_ts").alias("last_modified"),
        ).dropDuplicates(["file_path"]),
    )


def main() -> None:
    t_main = time.time()
    spec = json.loads(Path(sys.argv[1]).read_text())
    run_dir = Path(spec["run_dir"])
    out_dir = run_dir / "kb"
    trace = bool(spec["trace"])

    from graphrag_kb_server_spark.corpus import WEB_PAGES_SCHEMA
    from graphrag_kb_server_spark.plans.index_pipeline import run_index
    from graphrag_kb_server_spark.plans.query_pipeline import (
        QueryParams, answer_query, kg_query,
    )
    from graphrag_kb_server_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", cpus=spec["cpus"], shuffle_partitions=spec["cpus"],
        # temp files inside the run dir; no hsperfdata file in the system /tmp
        extra_conf={"spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"},
    )
    session_s = time.perf_counter() - t0
    rec = None
    if trace:
        from tracing import Recorder

        rec = Recorder(spark.sparkContext)
        rec.install(spark)

    def traced(fn, name, layer, **kw):
        return rec.call(fn, (), {}, name, layer, **kw) if rec else fn()

    # the input schema is known: no schema-inference job in set-up
    pages = spark.read.schema(WEB_PAGES_SCHEMA).parquet(spec["corpus"])
    result: dict = {"main_at": t_main, "session_s": session_s, "requests": []}

    def index_pass() -> float:
        t = time.perf_counter()
        traced(lambda: run_index(spark, pages, str(out_dir)),
               "run_index", "index_pipeline", ambient=True)
        return time.perf_counter() - t

    def serve(g, i: int) -> tuple:
        """Send request i (kind = i mod 3) and wait for its answer."""
        kind = REQUEST_KINDS[i % len(REQUEST_KINDS)]
        q = request_text(spec["generator"], spec["seed"], i)
        qp = QueryParams(mode="mix" if kind == "mix" else "hybrid", top_k=60)

        def send():
            if kind == "answer":
                # one attempt: answer_query's retry with shrunken parameters
                # would hide a failed kg_query behind status "success"
                return answer_query(spark, g, q, qp, max_retries=1,
                                    cache_path=str(run_dir / "llm_cache"))
            return kg_query(spark, g, q, qp)

        t = time.perf_counter()
        try:
            out = traced(send, "request", "request", request=str(i), kind=kind)
        except Exception:  # a failed request is a failed operation
            out = RuntimeError(traceback.format_exc(limit=-3))
        return i, kind, out, qp, time.perf_counter() - t

    if spec["kb_in_setup"]:
        result["index_s"] = index_pass()
    result["ready"] = time.time()
    t_measure = time.perf_counter()
    if not spec["kb_in_setup"]:
        result["index_s"] = index_pass()
    g = graph_tables(spark, out_dir)
    t_serve_end = t_measure + spec["seconds"]
    n_kinds = len(REQUEST_KINDS)

    # One closed-loop client: round r sends requests 3r, 3r + 1, 3r + 2,
    # one of each kind, each after the previous one returned. A new round
    # starts while the timed phase lasts; there is always at least one.
    outputs, rounds = [], []
    while not rounds or time.perf_counter() < t_serve_end:
        t_round = time.perf_counter()
        r = len(rounds)
        outputs += [serve(g, i) for i in range(r * n_kinds, (r + 1) * n_kinds)]
        rounds.append(time.perf_counter() - t_round)
    result["rounds_s"] = rounds
    result["timed_wall_s"] = time.perf_counter() - t_measure

    if rec:
        rec.uninstall()
    t_check = time.perf_counter()
    for k, kind, out, qp, lat in outputs:
        h, problems = (("", [f"raised {out!r}"]) if isinstance(out, Exception)
                       else check_request(kind, out, qp))
        result["requests"].append(
            {"i": k, "kind": kind, "latency_s": lat, "hash": h, "problems": problems})
    result["index"] = check_index(out_dir, spec["urls"])
    result["check_s"] = time.perf_counter() - t_check

    if rec:
        from tracing import layer_metrics

        rec.attach_spark_metrics()
        index_span = next(s for s in rec.spans if s["name"] == "run_index")
        request_spans = sorted((s for s in rec.spans if s["layer"] == "request"),
                               key=lambda s: s["start"])
        result["layers"] = layer_metrics(
            rec, index_span, request_spans, session_s, result["index"])
        Path(spec["trace_file"]).write_text(json.dumps(
            {"spans": rec.spans, "layers": result["layers"]}, default=str))
    result["end_at"] = time.time()
    Path(spec["result"]).write_text(json.dumps(result, default=str))
    # the harness kills the JVM and Python workers once this process exits;
    # a graceful SparkContext shutdown would only add seconds to every run
    os._exit(0)


if __name__ == "__main__":
    main()
