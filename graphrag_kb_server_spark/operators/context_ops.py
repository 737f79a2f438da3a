"""Q12/Q15/Q20/Q21 + Q17 cache — the remaining kg_query context ops.

- Q12 vector-similarity chunk pick: rank candidate chunks by cosine to
  the query embedding, keep ``related_chunk_number * n_entities / 2``
  (/root/reference/graphrag_kb_server/service/lightrag/lightrag_search.py:1472-1510,
  :1676-1713; query embedding precomputed once :959-974). Fallback to
  weighted polling on failure is the caller's try/except.
- Q15 reference list: number surviving chunks, emit
  ``[id] file_path (last_modified)`` (:826-861).
- Q20 dedup-by-content combine: dedup on all fields except id/created_at,
  reassign ids (:1758-1788).
- Q21 <SEP> file-reference expansion (:1791-1817).
- Q17 LLM-response cache: ``llm_cache(args_hash, content)`` keyed by a
  deterministic hash of (mode, query, params) — ``compute_args_hash``
  analogue (:499-513); a parquet table on disk served from an
  in-process dict (no Spark job).
- Q12/Q15/Q21 each have a ``*_ids`` / ``*_rows`` driver twin right
  after the Spark operator: kg_query runs the twin over its collected
  rows, the standalone entries run the Spark operator.
"""

from __future__ import annotations

import hashlib
import json
from collections import OrderedDict

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.windows import bounded_global

from .. import GRAPH_FIELD_SEP
from ..functions import vectors as V
from ..functions.embedding import embed_text
from .vector_topk import cosine_topk


def query_scores(chunk_embeddings: DataFrame, query_text: str) -> DataFrame:
    """(chunk_id, vscore): the Q12 cosine of each chunk to the query.
    A chunk whose embedding is unusable has no score and no row
    (operators/vector_topk.py states the rule)."""
    return chunk_embeddings.select(
        "chunk_id",
        V.cosine_with_query(
            V.to_double(F.col("embedding")), embed_text(query_text)
        ).alias("vscore"),
    ).where(F.col("vscore").isNotNull())


#: chunks per entity of the Spark twin's pick (QueryParams' default)
RELATED_CHUNK_NUMBER = 5


def _pick_size(n_entities: int, related_chunk_number: int) -> int:
    return max(int(related_chunk_number * n_entities / 2), 1)


def vector_similarity_chunk_pick(
    candidate_chunk_ids: DataFrame,
    chunk_embeddings: DataFrame,
    query_text: str,
    n_entities: int,
) -> DataFrame:
    """Q12 — candidates(chunk_id) → top ``RELATED_CHUNK_NUMBER *
    n_entities / 2`` by cosine to the query embedding (ties by
    chunk_id)."""
    return cosine_topk(
        candidate_chunk_ids.join(chunk_embeddings, "chunk_id"),
        embed_text(query_text),
        _pick_size(n_entities, RELATED_CHUNK_NUMBER),
        score_alias="vscore",
    ).select("chunk_id", "vscore")


def vector_pick_ids(
    scores: dict, n_entities: int, related_chunk_number: int
) -> set:
    """Driver twin of :func:`vector_similarity_chunk_pick` over the
    candidates' {chunk_id: vscore}."""
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return {cid for cid, _ in ranked[: _pick_size(n_entities, related_chunk_number)]}


def reference_list(surviving_chunks: DataFrame) -> DataFrame:
    """Q15 — (ref_ix, file_path) numbered reference rows, one per
    distinct file_path in ``merge_ix`` order (kg_query adds
    last_modified from the path-properties table — P12)."""
    w = bounded_global("merge_ix")
    refs = (
        surviving_chunks.select("file_path", "merge_ix")
        .withColumn("_rk", F.row_number().over(Window.partitionBy("file_path").orderBy("merge_ix")))
        .where(F.col("_rk") == 1)
        .drop("_rk")
        .withColumn("ref_ix", F.row_number().over(w))
        .drop("merge_ix")
    )
    return refs.select("ref_ix", "file_path")


def reference_rows(file_paths: list) -> list[dict]:
    """Driver twin of :func:`reference_list` over the surviving chunks'
    file paths in merge order (a null path gets a number too)."""
    ix: dict = {}
    for p in file_paths:
        ix.setdefault(p, len(ix) + 1)
    return [{"ref_ix": i, "file_path": p} for p, i in ix.items()]


def dedup_by_content_combine(
    parts: list[DataFrame],
    content_cols: list[str],
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Q20 — union context lists, dedup on every column except
    id/created_at, reassign sequential ids in first-occurrence order.

    "First occurrence" is made explicit: position = (part index,
    order_cols within the part) — distributed row order is never used
    (order_cols defaults to the existing id column)."""
    order_cols = order_cols or ["id"]
    tagged_parts = [
        p.withColumn("_part", F.lit(i)) for i, p in enumerate(parts)
    ]
    unioned = tagged_parts[0]
    for p in tagged_parts[1:]:
        unioned = unioned.unionByName(p)
    pos_w = bounded_global("_part", *order_cols)
    tagged = unioned.withColumn("_pos", F.row_number().over(pos_w))
    first_w = Window.partitionBy(*content_cols).orderBy("_pos")
    out = (
        tagged.withColumn("_rk", F.row_number().over(first_w))
        .where(F.col("_rk") == 1)
        .withColumn("id", F.row_number().over(bounded_global("_pos")))
        .drop("_pos", "_rk", "_part")
    )
    return out


def expand_file_references(refs: DataFrame) -> DataFrame:
    """Q21 — split ``<SEP>``-joined multi-file references into separate
    rows, dedup by file_path (first occurrence wins by ref_ix)."""
    exploded = refs.withColumn(
        "file_path", F.explode(F.split(F.col("file_path"), GRAPH_FIELD_SEP))
    )
    w = Window.partitionBy("file_path").orderBy("ref_ix")
    return (
        exploded.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )


def expand_reference_rows(refs: list[dict]) -> list[dict]:
    """Driver twin of :func:`expand_file_references`, in ``ref_ix`` then
    split order; a null path yields no row, as explode does."""
    out, seen = [], set()
    for r in sorted(refs, key=lambda r: r["ref_ix"]):
        for p in (r["file_path"].split(GRAPH_FIELD_SEP)
                  if r["file_path"] is not None else ()):
            if p not in seen:
                seen.add(p)
                out.append({"ref_ix": r["ref_ix"], "file_path": p})
    return out


# The reference's rag_response system prompt, quoted as a behavioral
# contract (prompt text is user-facing configuration, not engine code —
# same rationale as the byte-exact special-token regex in
# functions/text.py): lightrag_search.py:87-117 overrides
# PROMPTS["rag_response"] with Role / Goal / timestamp-handling rules /
# the knowledge block / Response Rules carrying the {response_type} and
# {user_prompt} slots and the [KG/DC] reference-citation instruction.
# A user switching engines gets the same system prompt; the LLM slot
# itself stays a deterministic stand-in here.
RAG_RESPONSE_TEMPLATE = """---Role---

You are a helpful assistant responding to user query about Knowledge \
Graph and Document Chunks provided in JSON format below.

---Goal---

Generate a concise response based on Knowledge Base and follow \
Response Rules, considering both the conversation history and the \
current query. Summarise all information in the provided Knowledge \
Base, and incorporating general knowledge relevant to the Knowledge \
Base. Do not include information not provided by Knowledge Base.

When handling relationships with timestamps:
1. Each relationship has a "created_at" timestamp indicating when we \
acquired this knowledge
2. When encountering conflicting relationships, consider both the \
semantic content and the timestamp
3. Don't automatically prefer the most recently created relationships \
- use judgment based on the context
4. For time-specific queries, prioritise temporal information in the \
content before considering creation timestamps

---Knowledge Graph and Document Chunks---
{context_data}

---Response Rules---

- Target format and length: {response_type}
- Use markdown formatting with appropriate section headings
- Please respond in the same language as the user's question.
- Ensure the response maintains continuity with the conversation \
history.
- List up to 10 most important reference sources at the end under \
"References" section. Clearly indicating whether each source is from \
Knowledge Graph (KG) or Document Chunks (DC), and include the file \
path if available, in the following format: [KG/DC] file_path
- If you don't know the answer, just say so.
- Do not make anything up. Do not include information not provided by \
the Knowledge Base.
- Addtional user prompt: {user_prompt}

Response:"""


def build_rag_prompt(
    context_data: str,
    response_type: str = "Multiple Paragraphs",
    user_prompt: str = "",
) -> str:
    """Q17 — the system prompt handed to the LLM slot, with the
    reference's section structure and format slots
    (lightrag_search.py:87-117; response_type default at :771-775)."""
    return RAG_RESPONSE_TEMPLATE.format(
        context_data=context_data,
        response_type=response_type,
        user_prompt=user_prompt,
    )


def compute_args_hash(mode: str, query: str, params: dict) -> str:
    """Q17 — deterministic cache key (compute_args_hash analogue)."""
    payload = json.dumps({"mode": mode, "query": query, "params": params},
                         sort_keys=True, ensure_ascii=False)
    return hashlib.md5(payload.encode("utf-8")).hexdigest()


class LlmCache:
    """The llm_cache table: a directory of parquet part files on disk,
    a dict ``args_hash → (written_at, content)`` in process.

    The cache is a point-lookup KV outside the data engine (SURVEY Q17,
    the reference's ``kv_store_llm_response_cache``), so no Spark job
    serves it. The dict is loaded once per path with pyarrow. ``put``
    appends one ``part-*.parquet`` file, written under a hidden
    ``.part-*`` name and renamed in, so a crashed put leaves no torn
    file (Spark and pyarrow both skip ``.``/``_`` files). On disk it
    stays a table Spark can read: schema ``(args_hash string, content
    string, written_at timestamp)``, last-write-wins by ``written_at``
    compared as UTC instants.

    Small-file hygiene: once the directory holds ``COMPACT_EVERY``
    part files, ``put`` rewrites the dict as one file (``compact``).
    Single-writer by design (one process, one thread writing a path at
    a time): the dict is the writer's view, and ``compact`` writes it
    back. A shared production cache would sit on a real table format's
    MERGE instead.
    """

    #: part files in the directory at which ``put`` compacts it
    COMPACT_EVERY = 64
    #: per-process instance memo (LRU): answer_query reuses ONE loaded
    #: dict per path; the bound caps how many dicts a long-lived driver
    #: keeps in memory.
    _instances: "OrderedDict[str, LlmCache]" = OrderedDict()
    _MAX_INSTANCES = 8

    @classmethod
    def for_path(cls, path: str) -> "LlmCache":
        inst = cls._instances.pop(path, None) or cls(path)
        cls._instances[path] = inst
        while len(cls._instances) > cls._MAX_INSTANCES:
            cls._instances.popitem(last=False)
        return inst

    def __init__(self, path: str):
        self.path = path
        self._recover()
        self._rows = self._load()

    def _recover(self) -> None:
        """compact() has an unavoidable instant between renaming
        live→__old and compacted→live where the live dir is absent. If
        a crash landed there, restore automatically instead of silently
        rebuilding an empty cache while the data sits stranded."""
        import os
        import shutil

        if os.path.exists(self.path):
            return
        tmp = f"{self.path}__compact"
        old = f"{self.path}__old"
        if os.path.exists(os.path.join(tmp, "_SUCCESS")):
            # the compacted dir is complete and supersedes __old
            os.rename(tmp, self.path)
            shutil.rmtree(old, ignore_errors=True)
        elif os.path.exists(old):
            os.rename(old, self.path)
            shutil.rmtree(tmp, ignore_errors=True)

    def _parts(self) -> list[str]:
        import os

        try:
            return [f.path for f in os.scandir(self.path)
                    if f.name.startswith("part-")]
        except FileNotFoundError:
            return []

    def _part_files(self) -> int:
        return len(self._parts())

    def _load(self) -> dict[str, tuple[int, str]]:
        """Newest row per args_hash over every part file. Each file is
        read on its own: a directory mixes Spark's naive INT96 (UTC)
        and pyarrow's ``timestamp[us, UTC]``, and both cast to the same
        UTC microseconds."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows: dict[str, tuple[int, str]] = {}
        for part in self._parts():
            t = pq.read_table(part)
            written = t.column("written_at").cast(
                pa.timestamp("us", tz="UTC")).cast(pa.int64())
            for h, content, w in zip(t.column("args_hash").to_pylist(),
                                     t.column("content").to_pylist(),
                                     written.to_pylist()):
                if h not in rows or w > rows[h][0]:
                    rows[h] = (w, content)
        return rows

    @staticmethod
    def _write(rows: dict[str, tuple[int, str]], path: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(pa.table({
            "args_hash": pa.array(list(rows), pa.string()),
            "content": pa.array([c for _, c in rows.values()], pa.string()),
            "written_at": pa.array([w for w, _ in rows.values()],
                                   pa.timestamp("us", tz="UTC")),
        }), path)

    def get(self, args_hash: str) -> str | None:
        hit = self._rows.get(args_hash)
        return hit[1] if hit else None

    def put(self, args_hash: str, content: str) -> None:
        import os
        import time
        import uuid

        # heal a crashed compact() BEFORE appending: writing first
        # would recreate the live path as a fresh one-row cache, after
        # which _recover() never restores the stranded __old/__compact
        # dir and the next compact() rmtree's it — silently dropping
        # every previously cached answer
        self._recover()
        row = {args_hash: (time.time_ns() // 1000, content)}
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, "." + name)
        os.makedirs(self.path, exist_ok=True)
        self._write(row, tmp)
        os.rename(tmp, os.path.join(self.path, name))
        self._rows.update(row)
        if self._part_files() >= self.COMPACT_EVERY:
            self.compact()

    def compact(self) -> None:
        """Fold the append log into one file: the dict, which holds the
        newest row per args_hash (the same last-write-wins as a load)."""
        import os
        import shutil

        # crash-safe swap: write compacted → move live aside → move
        # compacted in → drop the old dir. Between the two renames the
        # LIVE path is briefly absent; _recover() (run on init and
        # before every put) restores the stranded __compact or __old
        # dir automatically, so a crash in that window costs nothing
        # but the restore. _SUCCESS marks the compacted dir complete.
        tmp = f"{self.path}__compact"
        old = f"{self.path}__old"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        self._write(self._rows, os.path.join(tmp, "part-00000.parquet"))
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        shutil.rmtree(old, ignore_errors=True)
        os.rename(self.path, old)
        os.rename(tmp, self.path)
        shutil.rmtree(old)


def answer_with_cache(
    cache: LlmCache, mode: str, query: str, params: dict, context_str: str,
    llm_fn=None, prompt: str | None = None,
) -> str:
    """Q17 — cache lookup → LLM slot → post-cleanup → cache store.
    ``llm_fn(prompt)`` is the model boundary; the deterministic echo
    stand-in returns a digest of the context (reproducible). ``prompt``
    overrides the default framing (answer_query passes the reference's
    rag_response system prompt built by :func:`build_rag_prompt`)."""
    h = compute_args_hash(mode, query, params)
    hit = cache.get(h)
    if hit is not None:
        return hit
    if llm_fn is None:
        def llm_fn(prompt: str) -> str:
            d = hashlib.md5(prompt.encode("utf-8")).hexdigest()[:12]
            return f"[deterministic-echo {d}] {query}"
    answer = llm_fn(prompt or f"context:\n{context_str}\n\nquestion: {query}")
    # reference post-cleanup replace chain (lightrag_search.py:560-590)
    for junk in ("<|endoftext|>", "<|im_end|>"):
        answer = answer.replace(junk, "")
    cache.put(h, answer.strip())
    return answer.strip()
