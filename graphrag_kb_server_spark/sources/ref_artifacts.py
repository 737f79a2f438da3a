"""S5 (scan half) + vector-store loader — readers for the reference's
own persisted artifact formats: GraphML graphs, nano-vectordb JSON
matrices, and the KV-store JSON files.

Reference semantics: the reference persists its graph as a single
GraphML document and reloads it with networkx
(/root/reference/graphrag_kb_server/service/lightrag/lightrag_graph_support.py:19-27);
embeddings live in nano-vectordb JSON files shaped
``{"embedding_dim": D, "data": [ {...metadata...}, ... ],
"matrix": base64(float32 row-major)}``; chunks/docs live in
``kv_store_*.json`` dict-of-dicts. These readers make the engine able
to scan every artifact the reference writes — the missing half of the
S5 GraphML sink — so parity suites can run the Spark operators over the
reference's real shipped data (e.g. the dwell1 fixture graph used by
the reference's own tests, test/lightrag/test_lightrag_centrality.py:7-17).

Scale posture: these are single-file driver-side formats by
construction (one XML document / one JSON blob cannot be split).  They
are a compatibility boundary, exactly like the export half — parse once
on the driver with a hard size cap, then hand Spark an explicitly
partitioned DataFrame; the system of record at scale is the
parquet/Iceberg node+edge tables written by plans/index_pipeline.
"""

from __future__ import annotations

import base64
import json
import xml.etree.ElementTree as ET

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: parse guard — these formats are for fixture/compat data, not corpora.
MAX_IMPORT_ROWS = 1_000_000

_GML_NS = "{http://graphml.graphdrawing.org/xmlns}"


def parse_graphml(path: str) -> tuple[list[dict], list[dict]]:
    """Pure-Python GraphML parse → (node dicts, edge dicts).

    Resolves ``<key>`` declarations (id → attr.name, scoped by
    ``for=node|edge``) the same way networkx's reader does, so the
    returned dicts carry the reference's attribute names
    (entity_type/description/source_id/file_path on nodes;
    weight/keywords/description/source_id/file_path on edges).
    """
    root = ET.parse(path).getroot()
    keys: dict[tuple[str, str], str] = {}
    for k in root.iter(f"{_GML_NS}key"):
        keys[(k.get("for", ""), k.get("id", ""))] = k.get("attr.name", "")

    def data_of(el: ET.Element, scope: str) -> dict:
        out = {}
        for d in el.findall(f"{_GML_NS}data"):
            name = keys.get((scope, d.get("key", "")), d.get("key", ""))
            out[name] = d.text or ""
        return out

    nodes, edges = [], []
    for g in root.iter(f"{_GML_NS}graph"):
        for n in g.findall(f"{_GML_NS}node"):
            rec = {"name": n.get("id", "")}
            rec.update(data_of(n, "node"))
            nodes.append(rec)
        for e in g.findall(f"{_GML_NS}edge"):
            rec = {"src": e.get("source", ""), "tgt": e.get("target", "")}
            rec.update(data_of(e, "edge"))
            edges.append(rec)
    if len(nodes) > MAX_IMPORT_ROWS or len(edges) > MAX_IMPORT_ROWS:
        raise ValueError(
            f"GraphML at {path} exceeds {MAX_IMPORT_ROWS} rows; this is a "
            "compatibility scan — graphs at scale live in parquet/Iceberg"
        )
    return nodes, edges


_NODE_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("entity_type", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("source_id", T.StringType(), True),
        T.StructField("file_path", T.StringType(), True),
    ]
)

_EDGE_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType(), False),
        T.StructField("tgt", T.StringType(), False),
        T.StructField("weight", T.DoubleType(), True),
        T.StructField("keywords", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("source_id", T.StringType(), True),
        T.StructField("file_path", T.StringType(), True),
    ]
)


def read_graphml(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """GraphML file → (nodes, edges) DataFrames with the reference's
    attribute columns (fixed schema; absent attributes → null)."""
    raw_nodes, raw_edges = parse_graphml(path)
    nodes = [
        (
            r["name"],
            r.get("entity_type"),
            r.get("description"),
            r.get("source_id"),
            r.get("file_path"),
        )
        for r in raw_nodes
    ]
    edges = [
        (
            r["src"],
            r["tgt"],
            float(r["weight"]) if r.get("weight") not in (None, "") else None,
            r.get("keywords"),
            r.get("description"),
            r.get("source_id"),
            r.get("file_path"),
        )
        for r in raw_edges
    ]
    return (
        spark.createDataFrame(nodes, schema=_NODE_SCHEMA),
        spark.createDataFrame(edges, schema=_EDGE_SCHEMA),
    )


def parse_nano_vectordb(path: str) -> tuple[list[dict], np.ndarray]:
    """nano-vectordb JSON → (metadata rows, float32 matrix [n, dim]).

    The ``matrix`` field is base64 of the row-major float32 buffer;
    row i of the matrix is the embedding of ``data[i]``.
    """
    with open(path, "r", encoding="utf-8") as f:
        d = json.load(f)
    dim = int(d["embedding_dim"])
    rows = d["data"]
    if len(rows) > MAX_IMPORT_ROWS:
        raise ValueError(
            f"nano-vectordb at {path} exceeds {MAX_IMPORT_ROWS} rows"
        )
    mat = np.frombuffer(base64.b64decode(d["matrix"]), dtype=np.float32)
    if mat.size != len(rows) * dim:
        raise ValueError(
            f"matrix size {mat.size} != {len(rows)} rows × {dim} dims"
        )
    return rows, mat.reshape(len(rows), dim)


_VDB_SCHEMA = T.StructType(
    [
        T.StructField("vid", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), False),
    ]
)


def read_nano_vectordb(spark: SparkSession, path: str) -> DataFrame:
    """nano-vectordb JSON → DataFrame(vid, name, content, embedding).

    ``name`` is ``entity_name`` for entity stores, ``src_id + "|" +
    tgt_id`` for relationship stores, ``full_doc_id`` for chunk stores
    — whichever identity field the store carries.
    """
    rows, mat = parse_nano_vectordb(path)

    def name_of(r: dict) -> str | None:
        if "entity_name" in r:
            return r["entity_name"]
        if "src_id" in r:
            return f"{r['src_id']}|{r.get('tgt_id', '')}"
        return r.get("full_doc_id")

    data = [
        (r["__id__"], name_of(r), r.get("content"), mat[i].tolist())
        for i, r in enumerate(rows)
    ]
    return spark.createDataFrame(data, schema=_VDB_SCHEMA)


def read_kv_store(path: str) -> dict[str, dict]:
    """kv_store_*.json → {id: record}. Values keep their stored types
    (the dwell1 fixtures store ints as strings; callers cast)."""
    with open(path, "r", encoding="utf-8") as f:
        return json.load(f)
