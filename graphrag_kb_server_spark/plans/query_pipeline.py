"""The 4-stage kg_query pipeline: stage-1 search, then driver lists.

Reference entry point: ``kg_query``
(/root/reference/graphrag_kb_server/service/lightrag/lightrag_search.py:330-597),
stages labelled at :612-614 — 1. Search → 2. Truncate → 3. Merge chunks
→ 4. Build LLM context.

The reference serves every query from in-process nano-vectordb matrices
and in-memory KV stores. Here each ``GraphTables`` has a lazily built
driver snapshot (:class:`KBSnapshot`): the first request on a KB
collects its seven frames in ONE tagged-union collect under job group
``kg_query:snapshot``, gated by ``graph_support.collect_if_small``'s
rule at ``SNAPSHOT_CAP`` total rows, probed on a column-free union
(declined on size only). From then on every request runs stages 1-4
in plain Python/numpy with zero Spark actions: stage 1 is
``vector_topk.cosine_topk_rows`` (the numpy twin of ``cosine_topk``)
plus dict joins that mirror the Spark plans' operator order. A KB over
the cap keeps the distributed stage 1: the query embedding is
broadcast by value into the cosine top-k plans, whose bounded results
(≤ top_k rows per branch) come back in ONE tagged-union collect under
``kg_query:search``, and one id-filtered collect under
``kg_query:chunks`` fetches the candidate chunks' text.

Stages 2-4 — round-robin dedup, token-prefix truncation, gradient
polling or the vector pick, context assembly — run in plain Python over
either path's rows, as the reference runs them over its in-process
vector-store results. Each driver op has a Spark twin in ``operators/``
(the standalone Q6/Q8/Q9/Q11/Q15/Q21 entries), pinned to it by
tests/test_query_driver_parity.py, which also pins the snapshot path
to the distributed one. ``QueryContext.stage_s`` holds each stage's
wall time.

Modes (reference :984-1034, normalization all→hybrid at
model/rag_parameters.py:116): local = entity search; global = relation
search; hybrid = both; mix = both + direct chunk vector search.
"""

from __future__ import annotations

import json
import logging
import re
import threading
import time
from collections import Counter
from dataclasses import dataclass, field
from functools import reduce
from itertools import compress
from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import GRAPH_FIELD_SEP
from ..functions.embedding import EMBEDDING_DIM, embed_text
from ..tokenizer import count_tokens
from ..operators.context_ops import (
    build_rag_prompt,
    expand_reference_rows,
    query_scores,
    reference_rows,
    vector_pick_ids,
)
from ..operators.graph_support import collect_if_small
from ..operators.merge import round_robin_rows
from ..operators.polling import gradient_quota_map, weighted_polling_rows
from ..operators.truncation import token_budget_prefix
from ..operators.vector_topk import (
    cosine_scores,
    cosine_topk,
    cosine_topk_rows,
    tiebreak_col,
)
from .index_pipeline import _read_table

_log = logging.getLogger(__name__)

# Total rows of a KB's seven frames up to which it is served from a
# driver snapshot. Inherited, not measured: it is the default cap of
# canonical_map and components, whose rows are narrow, while snapshot
# rows carry chunk text, descriptions and embeddings. Neither the
# driver memory at this cap nor where the two paths cross over has
# been measured; sizing it is ROADMAP B's open item.
SNAPSHOT_CAP = 100_000

_STOPWORDS = {
    "the", "a", "an", "of", "in", "on", "to", "and", "or", "is", "are",
    "what", "which", "who", "how", "does", "do", "with", "for", "about",
    "tell", "me", "between", "relationship",
}


def extract_keywords(query: str, user_keywords: list[str] | None = None) -> list[str]:
    """Q1 — the LLM keyword slot's deterministic stand-in: tf-ranked
    non-stopword terms plus capitalized spans, unioned with user-supplied
    keywords (set union, reference lightrag_search.py:83-84, :385-390)."""
    spans = re.findall(r"(?:[A-Z][A-Za-z0-9'&-]*)(?:\s+[A-Z][A-Za-z0-9'&-]*)*", query)
    words = [w for w in re.findall(r"[a-z]+", query.lower()) if w not in _STOPWORDS]
    ranked = [w for w, _ in Counter(words).most_common(8)]
    out: list[str] = []
    for kw in spans + ranked + (user_keywords or []):
        if kw and kw not in out:
            out.append(kw)
    return out


def extract_keywords_hl_ll(
    query: str, user_keywords: list[str] | None = None
) -> tuple[list[str], list[str]]:
    """The reference splits keywords into high-level (thematic) and
    low-level (specific entities) lists (lightrag_search.py:689-699).
    Deterministic stand-in: capitalized entity spans → low-level,
    tf-ranked terms + user keywords → high-level."""
    spans = re.findall(r"(?:[A-Z][A-Za-z0-9'&-]*)(?:\s+[A-Z][A-Za-z0-9'&-]*)*", query)
    words = [w for w in re.findall(r"[a-z]+", query.lower()) if w not in _STOPWORDS]
    ranked = [w for w, _ in Counter(words).most_common(8)]
    ll = list(dict.fromkeys(s for s in spans if s))
    hl = [w for w in dict.fromkeys(ranked + (user_keywords or [])) if w not in ll]
    return hl, ll


@dataclass
class QueryParams:
    """Mirror of the reference QueryParameters defaults
    (model/rag_parameters.py:27,121-122; top_k default 60 in LightRAG)."""
    mode: str = "hybrid"  # local | global | hybrid | mix (all→hybrid)
    top_k: int = 60
    max_entity_tokens: int = 100
    max_relation_tokens: int = 800
    max_total_tokens: int = 5000
    related_chunk_number: int = 5
    # Q11 vs Q12 (lightrag_search.py:1472-1521): 'weighted_polling' or
    # 'vector' (vector falls back to polling on failure)
    chunk_pick: str = "weighted_polling"
    # Q19 (lightrag_search.py:454-487)
    only_need_context: bool = False
    only_need_prompt: bool = False
    # Q17 prompt slots (reference defaults at lightrag_search.py:771-777)
    response_type: str = "Multiple Paragraphs"
    user_prompt: str = ""


@dataclass
class GraphTables:
    """The frames of one KB. A GraphTables is read-only for its
    lifetime: re-indexing a KB means building a new GraphTables over the
    new tables. Its driver snapshot (:meth:`snapshot`) is keyed to the
    identity of the seven frames, so assigning a new frame to a field
    rebuilds it, but data changed under an unchanged frame is not seen.
    """
    nodes: DataFrame
    edges: DataFrame
    chunks: DataFrame
    entity_embeddings: DataFrame
    relation_embeddings: DataFrame
    chunk_embeddings: DataFrame
    # (file_path, last_modified), one row per file_path — P12: for
    # webtext the authoritative last-modified is warc_ts
    # (operators.personalization.last_modified); joined into the query
    # reference list (lightrag_search.py:826-861)
    path_properties: DataFrame | None = None
    # (frames, snapshot or None) of the last gate decision
    _snapshot: tuple | None = field(default=None, init=False, repr=False,
                                    compare=False)
    _snapshot_lock: threading.Lock = field(
        default_factory=threading.Lock, init=False, repr=False, compare=False
    )

    @classmethod
    def from_index(cls, spark: SparkSession, out_dir: str) -> GraphTables:
        """The KB ``run_index`` wrote to ``out_dir``, read through the
        table-format seam it writes through. ``path_properties`` is each
        document's url with its ``warc_ts``."""
        def read(name: str) -> DataFrame:
            return _read_table(spark, f"{out_dir}/{name}")

        return cls(
            nodes=read("nodes"),
            edges=read("edges"),
            chunks=read("chunks"),
            entity_embeddings=read("entity_embeddings"),
            relation_embeddings=read("relation_embeddings"),
            chunk_embeddings=read("chunk_embeddings"),
            path_properties=read("documents").select(
                F.col("url").alias("file_path"),
                F.col("warc_ts").alias("last_modified"),
            ).dropDuplicates(["file_path"]),
        )

    def snapshot(self, spark: SparkSession) -> KBSnapshot | None:
        """The KB's driver snapshot, or None when the KB is over
        ``SNAPSHOT_CAP`` rows. Built (or declined) once per set of
        frames, under a lock, so concurrent first requests build it
        once."""
        frames = (self.nodes, self.edges, self.chunks, self.entity_embeddings,
                  self.relation_embeddings, self.chunk_embeddings,
                  self.path_properties)
        with self._snapshot_lock:
            cached = self._snapshot
            if cached is None or any(a is not b for a, b in zip(cached[0], frames)):
                self._snapshot = cached = (frames, _build_snapshot(spark, self))
            return cached[1]


# The four-slot context template (reference: PROMPTS["kg_query_context"]
# formatted at lightrag_search.py:895-900 with entities_str/relations_str/
# text_chunks_str/reference_list_str; section payloads are JSON-lines,
# lightrag_search.py:780-785, :822-824; reference rows are
# "[id] path (last_modified: iso)", :846-853).
KG_QUERY_CONTEXT_TEMPLATE = """-----Entities(KG)-----

```json
{entities_str}
```

-----Relationships(KG)-----

```json
{relations_str}
```

-----Document Chunks(DC)-----

```json
{text_chunks_str}
```

-----Reference Document List-----

{reference_list_str}
"""


def _json_lines(rows, keys) -> str:
    """JSON-lines section payload, exactly as the reference serializes
    context rows (json.dumps with default separators, ensure_ascii=False
    — lightrag_search.py:780-785)."""
    return "\n".join(
        json.dumps({k: r[k] for k in keys}, ensure_ascii=False) for r in rows
    )


@dataclass
class QueryContext:
    # post-truncation row shapes match the reference exactly
    # (lightrag_search.py:1166-1173, :1193-1200 minus the file_path/
    # created_at keys the reference strips during truncation, :1208-1240):
    # entities: {entity, type, description}; relations: {entity1,
    # entity2, description}; chunks: {reference_id, content} (+ chunk_id/
    # file_path kept for provenance, not serialized into the context).
    entities: list[dict] = field(default_factory=list)
    relations: list[dict] = field(default_factory=list)
    chunks: list[dict] = field(default_factory=list)
    keywords: list[str] = field(default_factory=list)
    keywords_hl: list[str] = field(default_factory=list)
    keywords_ll: list[str] = field(default_factory=list)
    references: list[dict] = field(default_factory=list)
    mode: str = "hybrid"
    processing_info: dict = field(default_factory=dict)
    # wall seconds per stage (search, truncate, merge_chunks, context);
    # kept out of processing_info and raw_data(), which are hashed
    stage_s: dict = field(default_factory=dict)

    def reference_list_str(self) -> str:
        def fmt(r: dict) -> str:
            lm = r.get("last_modified")
            ts = f" (last_modified: {lm.isoformat()})" if lm else ""
            return f"[{r['reference_id']}] {r['file_path']}{ts}"

        return "\n".join(fmt(r) for r in self.references if r["reference_id"])

    def context_str(self) -> str:
        """Q16 — the templated context assembly (reference :728-924)."""
        return KG_QUERY_CONTEXT_TEMPLATE.format(
            entities_str=_json_lines(self.entities, ("entity", "type", "description")),
            relations_str=_json_lines(
                self.relations, ("entity1", "entity2", "description")
            ),
            text_chunks_str=_json_lines(self.chunks, ("reference_id", "content")),
            reference_list_str=self.reference_list_str(),
        )

    def raw_data(self) -> dict:
        """The structured payload next to the context string
        (convert_to_user_format shape + the metadata/processing_info
        counts at lightrag_search.py:693-712)."""
        return {
            "data": {
                "entities": self.entities,
                "relationships": self.relations,
                "chunks": self.chunks,
            },
            "metadata": {
                "query_mode": self.mode,
                "keywords": {
                    "high_level": self.keywords_hl,
                    "low_level": self.keywords_ll,
                },
                "processing_info": self.processing_info,
            },
            "status": "success",
        }


def _entity_search(g: GraphTables, qvec, k: int) -> DataFrame:
    """Q2 — entity vector top-k + node attrs + degree ("local")."""
    top = cosine_topk(g.entity_embeddings, qvec, k, score_alias="vscore")
    return top.join(g.nodes, "name").select(
        "name", "type", "description", "degree", "source_chunk_ids", "vscore"
    )


def _relation_search(g: GraphTables, qvec, k: int) -> DataFrame:
    """Q3 — relation vector top-k + edge attrs ("global")."""
    top = cosine_topk(g.relation_embeddings, qvec, k, score_alias="vscore")
    return top.join(g.edges, ["src", "tgt"]).select(
        "src", "tgt", "keywords", "description", "weight", "combined_degree",
        "source_chunk_ids", "vscore",
    )


def _chunk_search(g: GraphTables, qvec, k: int) -> DataFrame:
    """Q4 — direct chunk vector top-k ("naive"/"mix" contribution)."""
    top = cosine_topk(g.chunk_embeddings, qvec, k, score_alias="vscore")
    return top.join(g.chunks.select("chunk_id", "content", "file_path"), "chunk_id")


def gather_chunks_from_members(selected: DataFrame, member_col: str) -> DataFrame:
    """Q9/Q10 — explode member→chunk provenance (``source_chunk_ids``);
    occurrence = how many selected members reference the chunk;
    first-member-wins dedup; rank chunks per member by occurrence desc
    (reference :1389-1464)."""
    exploded = selected.select(
        F.col(member_col).alias("member"),
        F.col("merge_ix"),
        F.explode("source_chunk_ids").alias("chunk_id"),
    )
    occ = Window.partitionBy("chunk_id")
    first_w = Window.partitionBy("chunk_id").orderBy("merge_ix")
    return (
        exploded.withColumn("occurrence", F.count(F.lit(1)).over(occ))
        .withColumn("_rk", F.row_number().over(first_w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )


def gather_chunk_rows(selected: list[dict], member_key: str) -> list[dict]:
    """Driver twin of :func:`gather_chunks_from_members`."""
    occ: Counter = Counter()
    first: dict = {}
    for r in selected:
        for cid in r["source_chunk_ids"] or ():
            occ[cid] += 1
            if cid not in first or r["merge_ix"] < first[cid]["merge_ix"]:
                first[cid] = {"member": r[member_key],
                              "merge_ix": r["merge_ix"], "chunk_id": cid}
    return [{**e, "occurrence": occ[cid]} for cid, e in first.items()]


def _collect_tagged(
    spark: SparkSession,
    parts: dict[str, DataFrame],
    group: str,
    gate: tuple[str, int] | None = None,
) -> dict[str, list[dict]] | None:
    """Collect several small frames in ONE action under job group
    ``group`` (the caller's group is restored after); rows by tag, each
    with its own frame's columns. With ``gate=(op, cap)`` the action is
    ``collect_if_small``'s bounded probe of the union, and the result is
    None when the union has more than ``cap`` rows."""
    tagged = [df.withColumn("_sec", F.lit(sec)) for sec, df in parts.items()]
    union = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), tagged)
    sc = spark.sparkContext
    caller_group = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        rows = (union.collect() if gate is None
                else collect_if_small(union, gate[1], gate[0], rows=True))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", caller_group)
    if rows is None:
        return None
    cols = {sec: df.columns for sec, df in parts.items()}
    out: dict[str, list[dict]] = {sec: [] for sec in parts}
    for r in rows:
        d = r.asDict()
        sec = d["_sec"]
        out[sec].append({c: d[c] for c in cols[sec]})
    return out


def _entity_payload() -> Column:
    """The entity row shape stage 2 counts tokens on, as Spark JSON."""
    return F.to_json(F.struct(
        F.col("name").alias("entity"), "type", "description"
    )).alias("_ser")


def _relation_payload() -> Column:
    """The relation row shape stage 2 counts tokens on, as Spark JSON."""
    return F.to_json(F.struct(
        F.col("src").alias("entity1"), F.col("tgt").alias("entity2"),
        "description",
    )).alias("_ser")


_ENTITY_COLS = ("name", "type", "description", "source_chunk_ids")
_RELATION_COLS = ("src", "tgt", "description", "weight", "source_chunk_ids")


def _search_parts(
    g: GraphTables, qvec, mode: str, params: QueryParams
) -> dict[str, DataFrame]:
    """The distributed stage 1: the search frames ``kg_query`` collects
    in one tagged union on a KB over the snapshot cap. Each entity /
    relation row carries the ``_ser`` payload stage 2 counts tokens on."""
    ent_cols = [*_ENTITY_COLS, "vscore", _entity_payload()]
    rel_cols = [*_RELATION_COLS, "vscore", _relation_payload()]
    parts: dict[str, DataFrame] = {}
    if mode != "global":
        loc = _entity_search(g, qvec, params.top_k)
        parts["loc"] = loc.select(*ent_cols)
        # edges incident to the top local entities, scored by the
        # entity's score (one-hop graph expansion)
        parts["inc"] = (
            loc.select("name", "vscore")
            .join(
                g.edges,
                (F.col("name") == F.col("src")) | (F.col("name") == F.col("tgt")),
            )
            .groupBy("src", "tgt")
            .agg(
                F.max("vscore").alias("vscore"),
                F.first("description").alias("description"),
                F.first("weight").alias("weight"),
                F.first("source_chunk_ids").alias("source_chunk_ids"),
            )
            .select(*rel_cols)
        )
    if mode != "local":
        glob = _relation_search(g, qvec, params.top_k)
        parts["glob"] = glob.select(*rel_cols)
        # endpoint entities of the top relations, in relation-score order
        endpoints = glob.select(
            F.explode(F.array("src", "tgt")).alias("name"), "vscore"
        ).groupBy("name").agg(F.max("vscore").alias("vscore"))
        parts["ep"] = endpoints.join(g.nodes, "name").select(*ent_cols)
    if mode == "mix":
        parts["vec"] = _chunk_search(
            g, qvec, params.related_chunk_number * 2
        ).select("chunk_id", "vscore")
    return parts


def _fetch_chunks(
    spark: SparkSession, g: GraphTables, ids: set, score_ids: set, query: str
) -> tuple[dict, dict, dict]:
    """The distributed chunk fetch: ONE id-filtered collect of the
    candidate chunks (content, file_path, each expanded path's
    last_modified) and, for ``score_ids``, the Spark-computed Q12
    cosine to the raw query. Returns (chunk rows by id, last_modified
    by path, score by chunk id)."""
    fetched = {"chunk": [], "score": []}
    if ids:
        scan = g.chunks.where(F.col("chunk_id").isin(sorted(ids))).select(
            "chunk_id", "content", "file_path",
            F.explode_outer(F.split("file_path", GRAPH_FIELD_SEP)).alias("path"),
        )
        if g.path_properties is not None:
            scan = scan.join(
                g.path_properties.select(
                    F.col("file_path").alias("path"), "last_modified"
                ),
                "path",
                "left",
            )
        fetch = {"chunk": scan}
        if score_ids:
            fetch["score"] = query_scores(
                g.chunk_embeddings.where(F.col("chunk_id").isin(sorted(score_ids))),
                query,
            )
        fetched.update(_collect_tagged(spark, fetch, "kg_query:chunks"))
    return (
        {r["chunk_id"]: r for r in fetched["chunk"]},
        {r["path"]: r.get("last_modified") for r in fetched["chunk"]},
        {r["chunk_id"]: r["vscore"] for r in fetched["score"]},
    )


class _Vectors(NamedTuple):
    """One embedding table on the driver: each row's join key and
    tie-break value, and the embeddings as a float64 matrix."""
    keys: list
    tiebreak: list | None
    mat: np.ndarray

    def topk(self, qvec, k: int) -> list[tuple]:
        return [(self.keys[i], s)
                for i, s in cosine_topk_rows(self.mat, qvec, k, self.tiebreak)]


@dataclass
class KBSnapshot:
    """A KB on the driver, for serving without Spark.

    Rows hold the values ``Row.asDict()`` gives for the columns stage 1
    selects, with the ``_ser`` payloads computed by Spark's ``to_json``.
    Assumes what the index writes: nodes unique on name, edges on
    (src, tgt), chunks on chunk_id, path_properties on file_path.
    """
    nodes: dict            # name → entity row
    edges: dict            # (src, tgt) → relation row
    incident: dict         # name → keys of the edges touching it
    chunks: dict           # chunk_id → {chunk_id, content, file_path}
    last_modified: dict    # file_path → last_modified
    entity: _Vectors
    relation: _Vectors
    chunk: _Vectors
    build_s: float         # wall seconds of the collect and conversion

    def search(self, qvec, mode: str, params: QueryParams) -> dict[str, list[dict]]:
        """Driver twin of the :func:`_search_parts` collect: top-k first,
        then the inner join, as the Spark plans run them."""
        found: dict[str, list[dict]] = {}
        if mode != "global":
            loc = [{**self.nodes[n], "vscore": s}
                   for n, s in self.entity.topk(qvec, params.top_k)
                   if n in self.nodes]
            best: dict = {}
            for r in loc:
                for key in self.incident.get(r["name"], ()):
                    best[key] = max(best.get(key, r["vscore"]), r["vscore"])
            found["loc"] = loc
            found["inc"] = [{**self.edges[k], "vscore": s} for k, s in best.items()]
        if mode != "local":
            glob = [{**self.edges[k], "vscore": s}
                    for k, s in self.relation.topk(qvec, params.top_k)
                    if None not in k and k in self.edges]
            best = {}
            for r in glob:
                for n in (r["src"], r["tgt"]):
                    best[n] = max(best.get(n, r["vscore"]), r["vscore"])
            found["glob"] = glob
            found["ep"] = [{**self.nodes[n], "vscore": s}
                           for n, s in best.items() if n in self.nodes]
        if mode == "mix":
            found["vec"] = [
                {"chunk_id": c, "vscore": s}
                for c, s in self.chunk.topk(qvec, params.related_chunk_number * 2)
                if c in self.chunks
            ]
        return found

    def fetch_chunks(self, score_ids: set, query: str) -> tuple[dict, dict, dict]:
        """Driver twin of :func:`_fetch_chunks`."""
        rows = [i for i, c in enumerate(self.chunk.keys)
                if c is not None and c in score_ids]
        scores = cosine_scores(self.chunk.mat[rows], embed_text(query))
        return self.chunks, self.last_modified, {
            self.chunk.keys[i]: float(s) for i, s in zip(rows, scores)
        }


_EMBEDDING_KEYS = {"entity": ("name",), "relation": ("src", "tgt"),
                   "chunk": ("chunk_id",)}


def _vectors(
    rows: list[dict], key_cols: tuple[str, ...], tiebreak: str
) -> _Vectors:
    """The matrix of one embedding table's usable rows: those whose
    embedding is a finite EMBEDDING_DIM-long vector (the query's
    length), the rows ``cosine_topk`` scores."""
    rows = [r for r in rows
            if r["embedding"] is not None and len(r["embedding"]) == EMBEDDING_DIM]
    # a null element becomes NaN
    mat = np.array([r["embedding"] for r in rows],
                   dtype=np.float64).reshape(len(rows), EMBEDDING_DIM)
    finite = np.isfinite(mat).all(axis=1)
    mat, rows = mat[finite], list(compress(rows, finite))
    keys = [r[key_cols[0]] if len(key_cols) == 1
            else tuple(r[c] for c in key_cols) for r in rows]
    has_tiebreak = bool(rows) and tiebreak in rows[0]
    return _Vectors(keys, [r[tiebreak] for r in rows] if has_tiebreak else None, mat)


def _build_snapshot(spark: SparkSession, g: GraphTables) -> KBSnapshot | None:
    """``g`` on the driver, or None when it has more than
    ``SNAPSHOT_CAP`` rows; two actions under job group
    ``kg_query:snapshot``.

    The gate (one record, op ``kg_snapshot``) probes the tagged union of
    the seven frames with no columns, so a KB over ``SNAPSHOT_CAP``
    costs a bounded scan, not ``SNAPSHOT_CAP`` wide rows pulled to the
    driver and dropped. A probe that fits runs ONE tagged-union collect
    of the frames."""
    t0 = time.perf_counter()

    parts = {
        "nodes": g.nodes.select(*_ENTITY_COLS, _entity_payload()),
        "edges": g.edges.select(*_RELATION_COLS, _relation_payload()),
        "chunks": g.chunks.select("chunk_id", "content", "file_path"),
    }
    for sec, key_cols in _EMBEDDING_KEYS.items():
        df = getattr(g, f"{sec}_embeddings")
        # cosine_topk's tie-break column, one name per table: the three
        # may differ in type
        tb = tiebreak_col(df)
        parts[sec] = df.select(*key_cols, "embedding",
                               *([F.col(tb).alias(f"_tb_{sec}")] if tb else []))
    if g.path_properties is not None:
        parts["paths"] = g.path_properties.select("file_path", "last_modified")
    probe = {sec: df.select() for sec, df in parts.items()}
    if _collect_tagged(spark, probe, "kg_query:snapshot",
                       gate=("kg_snapshot", SNAPSHOT_CAP)) is None:
        return None
    found = _collect_tagged(spark, parts, "kg_query:snapshot")
    vectors = {sec: _vectors(found.pop(sec), key_cols, f"_tb_{sec}")
               for sec, key_cols in _EMBEDDING_KEYS.items()}
    edges = {(r["src"], r["tgt"]): r for r in found["edges"]}
    incident: dict = {}
    for key in edges:
        for name in dict.fromkeys(key):
            incident.setdefault(name, []).append(key)
    # a null key never matches in a join
    return KBSnapshot(
        nodes={r["name"]: r for r in found["nodes"] if r["name"] is not None},
        edges=edges,
        incident=incident,
        chunks={r["chunk_id"]: r for r in found["chunks"]
                if r["chunk_id"] is not None},
        last_modified={r["file_path"]: r["last_modified"]
                       for r in found.get("paths", ()) if r["file_path"] is not None},
        build_s=time.perf_counter() - t0,
        **vectors,
    )


def _by_score(*tiebreak: str):
    """Sort key for (vscore desc, *tiebreak asc) — rank_branch's order."""
    return lambda r: (-r["vscore"], *(r[c] for c in tiebreak))


def _by_occurrence(r: dict) -> tuple:
    """Chunk order within a branch: occurrence desc, chunk_id asc."""
    return (-r["occurrence"], r["chunk_id"])


def kg_query(
    spark: SparkSession,
    g: GraphTables,
    query: str,
    params: QueryParams | None = None,
    user_keywords: list[str] | None = None,
) -> QueryContext:
    params = params or QueryParams()
    mode = "hybrid" if params.mode == "all" else params.mode
    if mode not in ("local", "global", "hybrid", "mix"):
        # an unknown/misspelled mode would otherwise run zero branches
        # and return an EMPTY context with status success — callers
        # could not tell a bad mode from a genuinely empty result
        raise ValueError(
            f"kg_query: unsupported mode {params.mode!r} "
            "(expected local | global | hybrid | mix | all)"
        )
    keywords = extract_keywords(query, user_keywords)
    # Q1: embed once, reuse across all vector ops (reference :959-974)
    qvec = embed_text(query if not keywords else " ".join(keywords))
    hl, ll = extract_keywords_hl_ll(query, user_keywords)
    ctx = QueryContext(keywords=keywords, keywords_hl=hl, keywords_ll=ll, mode=mode)
    clock = [time.perf_counter()]

    def lap(stage: str) -> None:
        now = time.perf_counter()
        ctx.stage_s[stage] = now - clock[0]
        clock[0] = now

    # ── Stage 1: search ───────────────────────────────────────────────
    # Reference hybrid semantics (lightrag_search.py:984-1066): the
    # local (entity) search ALSO yields the edges incident to its top
    # entities, and the global (relation) search ALSO yields its edges'
    # endpoint entities. All four lists (+ mix's chunk top-k) come from
    # the KB's driver snapshot (zero Spark actions once it is built) or,
    # on a KB over SNAPSHOT_CAP, from ONE tagged-union collect of the
    # Spark search plans. Either way each entity/relation row carries
    # the F.to_json payload stage 2 counts tokens on. That payload is
    # the stripped row shape the reference counts (file_path/created_at
    # removed, lightrag_search.py:1208-1240). Known deviation: to_json
    # emits compact separators ("," ":") and omits null fields, while
    # the reference counts json.dumps' spaced form (", " ": ") — rows
    # within a few tokens of max_entity/relation_tokens may be kept
    # here that the reference would cut. The kept-set rule and ordering
    # are identical; only the boundary token arithmetic differs (the
    # q8 oracle pins THIS accounting).
    snap = g.snapshot(spark)
    if snap is not None:
        found = snap.search(qvec, mode, params)
    else:
        found = _collect_tagged(spark, _search_parts(g, qvec, mode, params),
                                "kg_query:search")
    lap("search")

    # ── Stage 2: round-robin merge + token truncation (Q6/Q7/Q8), on
    #    the driver: each list holds ≤ top_k rows ────────────────────────
    entities = round_robin_rows(
        [sorted(found[s], key=_by_score("name")) for s in ("loc", "ep") if s in found],
        ["name"],
    )
    rel_order = {"glob": _by_score("src", "tgt"),
                 "inc": lambda r: (-r["vscore"], -r["weight"], r["src"], r["tgt"])}
    relations = round_robin_rows(
        [sorted(found[s], key=k) for s, k in rel_order.items() if s in found],
        ["src", "tgt"],
    )
    n_entities_found, n_relations_found = len(entities), len(relations)
    entities = token_budget_prefix(entities, "_ser", params.max_entity_tokens)
    relations = token_budget_prefix(relations, "_ser", params.max_relation_tokens)
    ctx.entities = [
        {"entity": r["name"], "type": r["type"], "description": r["description"]}
        for r in entities
    ]
    ctx.relations = [
        {"entity1": r["src"], "entity2": r["tgt"], "description": r["description"]}
        for r in relations
    ]
    lap("truncate")

    # ── Stage 3: chunk gathering, pick and merge (Q9-Q14) ─────────────
    # Every candidate chunk's content and file_path, the last_modified
    # of its expanded paths and, for the Q12 pick, the candidates' query
    # cosine: from the snapshot, or from ONE id-filtered Spark scan.
    ent_chunks = gather_chunk_rows(entities, "name")
    rel_chunks = gather_chunk_rows(
        [{**r, "name": f"{r['src']}|{r['tgt']}"} for r in relations], "name"
    )
    vec_ids = [r["chunk_id"] for r in sorted(found.get("vec", []),
                                             key=_by_score("chunk_id"))]
    want_scores = params.chunk_pick == "vector" and bool(ent_chunks)
    score_ids = {c["chunk_id"] for c in ent_chunks} if want_scores else set()
    if snap is not None:
        chunk_rows, last_modified, scores = snap.fetch_chunks(score_ids, query)
    else:
        ids = {c["chunk_id"] for c in ent_chunks + rel_chunks} | set(vec_ids)
        chunk_rows, last_modified, scores = _fetch_chunks(
            spark, g, ids, score_ids, query
        )

    picked = None
    if want_scores:
        # Q12: the top candidates by cosine to the raw query; on failure
        # the reference falls back to weighted polling
        try:
            keep = vector_pick_ids(
                scores,
                max(len(ctx.entities), 1),
                params.related_chunk_number,
            )
            picked = [c for c in ent_chunks if c["chunk_id"] in keep]
        except Exception:
            _log.warning("kg_query: vector chunk pick failed; "
                         "falling back to weighted polling", exc_info=True)
    if picked is None:
        picked = weighted_polling_rows(
            ent_chunks,
            gradient_quota_map(
                {r["name"]: r["merge_ix"] for r in entities},
                params.related_chunk_number,
            ),
            "member",
        )
    picked.sort(key=_by_occurrence)
    picked_ids = {c["chunk_id"] for c in picked}
    # Q10 anti-dedup: relation chunks skip those the entities picked
    rel_picked = sorted(
        (c for c in rel_chunks if c["chunk_id"] not in picked_ids),
        key=_by_occurrence,
    )
    branches = [[{"chunk_id": c} for c in vec_ids]] if mode == "mix" else []
    branches += [picked, rel_picked]
    # Q13 merge; a candidate missing from the chunks table drops out,
    # as in an inner join
    merged = [chunk_rows[r["chunk_id"]]
              for r in round_robin_rows(branches, ["chunk_id"])
              if r["chunk_id"] in chunk_rows]
    # Q14: dynamic chunk token budget (lightrag_search.py:761-823)
    # available = max_total − tokens(system-prompt scaffold) −
    # tokens(kg context ACTUALLY kept) − tokens(query) − 200 buffer,
    # all through the shared tokenizer — the reference formula, not the
    # configured-maxima estimate. With no chunks or references yet,
    # context_str() is exactly the kg-only context.
    available_chunk_tokens = max(
        params.max_total_tokens
        - count_tokens(build_rag_prompt("", params.response_type, params.user_prompt))
        - count_tokens(ctx.context_str())
        - count_tokens(query)
        - 200,  # reference: reserved for reference list + safety
        0,
    )
    kept = token_budget_prefix(merged, "content", available_chunk_tokens)
    lap("merge_chunks")

    # ── Stage 4: context assembly (Q15/Q21) ───────────────────────────
    # Numbered reference list with <SEP> expansion (+ last_modified from
    # the path-properties table, lightrag_search.py:826-861).
    refs = expand_reference_rows(reference_rows([r["file_path"] for r in kept]))
    ctx.references = [
        {"reference_id": r["ref_ix"], "file_path": r["file_path"],
         "last_modified": last_modified.get(r["file_path"])}
        for r in refs
    ]
    # a chunk's file_path may be a <SEP>-joined multi-file string; refs
    # are keyed on the EXPANDED single paths (Q21), so a chunk cites the
    # first (min ref_ix) matching expanded path — the reference's
    # generate_reference_list_from_chunks behavior (:826-861)
    ref_by_path = {r["file_path"]: r["ref_ix"] for r in refs}
    ctx.chunks = [
        {"reference_id": min((ref_by_path[p] for p in
                              (r["file_path"] or "").split(GRAPH_FIELD_SEP)
                              if p in ref_by_path), default=0),
         "content": r["content"], "chunk_id": r["chunk_id"],
         "file_path": r["file_path"]}
        for r in kept
    ]
    ctx.processing_info = {
        "total_entities_found": n_entities_found,
        "total_relations_found": n_relations_found,
        "entities_after_truncation": len(ctx.entities),
        "relations_after_truncation": len(ctx.relations),
        "merged_chunks_count": len(merged),
        "final_chunks_count": len(ctx.chunks),
        "available_chunk_tokens": available_chunk_tokens,
    }
    lap("context")
    _log.debug("kg_query mode=%s stage1=%s stage_s=%s", mode,
               "distributed" if snap is None else "driver", ctx.stage_s)
    return ctx


def answer_query(
    spark: SparkSession,
    g: GraphTables,
    query: str,
    params: QueryParams | None = None,
    cache_path: str | None = None,
    llm_fn=None,
    max_retries: int = 5,
) -> dict:
    """Q17/Q18/Q19 — the full chat surface: kg_query → context/prompt
    modes → cached LLM answer, with the reference's retry-with-shrunken-
    params policy (≤5 retries at max_entity/relation size 10,
    lightrag_search.py:202-240)."""
    from ..operators.context_ops import LlmCache, answer_with_cache

    params = params or QueryParams()
    attempt_params = params
    last_err: Exception | None = None
    for attempt in range(max_retries):
        try:
            ctx = kg_query(spark, g, query, attempt_params)
            break
        except Exception as e:  # Q18: shrink and retry
            last_err = e
            attempt_params = QueryParams(
                mode=params.mode, top_k=10, max_entity_tokens=100,
                max_relation_tokens=100, max_total_tokens=2000,
                related_chunk_number=2, chunk_pick="weighted_polling",
            )
    else:
        raise last_err  # exhausted retries
    context_str = ctx.context_str()
    if params.only_need_context:
        return {"context": context_str, "references": ctx.references,
                "raw_data": ctx.raw_data(),
                "processing_info": ctx.processing_info}
    # the reference's rag_response system prompt wraps the context
    # (lightrag_search.py:87-117); the query is the user message
    sys_prompt = build_rag_prompt(
        context_str, params.response_type, params.user_prompt
    )
    prompt = f"{sys_prompt}\n\n---Question---\n{query}\n"
    if params.only_need_prompt:
        return {"prompt": prompt, "references": ctx.references,
                "raw_data": ctx.raw_data(),
                "processing_info": ctx.processing_info}
    cache = LlmCache.for_path(cache_path or "/tmp/kgspark_llm_cache")
    # cache key mirrors the reference's composition (lightrag_search.py
    # :499-513: mode, query, response_type, top_k, token budgets,
    # user_prompt, project_dir) — the kb scope here is the cache path
    # itself, included so KBs sharing the default path cannot serve
    # each other's answers
    answer = answer_with_cache(
        cache, params.mode, query,
        {
            "top_k": attempt_params.top_k,
            "response_type": params.response_type,
            "max_entity_tokens": attempt_params.max_entity_tokens,
            "max_relation_tokens": attempt_params.max_relation_tokens,
            "max_total_tokens": attempt_params.max_total_tokens,
            "related_chunk_number": attempt_params.related_chunk_number,
            "chunk_pick": attempt_params.chunk_pick,
            "user_prompt": params.user_prompt or "",
            "kb": cache_path or "/tmp/kgspark_llm_cache",
        },
        context_str, llm_fn=llm_fn,
        prompt=prompt,
    )
    return {"answer": answer, "references": ctx.references,
            "raw_data": ctx.raw_data(),
            "processing_info": ctx.processing_info}
