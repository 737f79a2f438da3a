"""T3 — entity + relation (triple) extraction.

Reference semantics: per chunk, an LLM emits entities
``(name, type, description)`` and relations
``(src, tgt, description, keywords, weight)``, with canonicalization
rules appended to the extraction prompt
(/root/reference/graphrag_kb_server/service/lightrag/lightrag_index_support.py:12-24;
engine call at :81 via ``rag.ainsert``).

Spark design: a ``mapInPandas`` one-to-many stage over chunks — the
LLM-slot boundary (SURVEY.md §7). The deterministic stand-in below is a
rule-based SVO extractor (sentence split → capitalized-span mention
detection → predicate = the lowercase gap between consecutive mentions).
The golden-fixture generator calls the same pure function over whole
documents, which pins the P/R ≥ 0.95 target.

Chunk-boundary correctness: token windows can cut a sentence; fragments
are suppressed by (a) dropping an unterminated trailing fragment and
(b) dropping the leading fragment of any chunk with ``chunk_ix > 0`` —
the overlap guarantees the intact sentence was seen by the previous
chunk (chunking.py constraint: overlap > max sentence length).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

_SENT_SPLIT = re.compile(r"(?<=[.!?])\s+")
_ENTITY_SPAN = re.compile(r"\b(?:[A-Z][A-Za-z0-9'&-]*)(?:\s+[A-Z][A-Za-z0-9'&-]*)*")
_PRED_CLEAN = re.compile(r"[^a-z\s]")

# type heuristics for the deterministic stand-in (suffix/shape rules)
_ORG_SUFFIX = {
    "Systems", "Industries", "Analytics", "Dynamics", "Labs", "Holdings",
    "Networks", "Robotics", "Energy", "Capital", "Corp", "Inc", "Ltd",
    "Group", "Company",
}
_CONCEPT_WORDS = {
    "Artificial", "Intelligence", "Knowledge", "Graph", "Data", "Mesh",
    "Quantum", "Computing", "Analytics", "Vector", "Search", "Machine",
    "Learning", "Distributed", "Systems",
}

MENTIONS_SCHEMA = (
    "chunk_id string, doc_id string, subj string, subj_type string, "
    "pred string, obj string, obj_type string, description string, "
    "weight double"
)


def entity_type(name: str) -> str:
    words = name.split()
    if words and words[-1] in _ORG_SUFFIX and len(words) > 1:
        return "organization"
    if len(words) >= 2 and all(w in _CONCEPT_WORDS for w in words):
        return "concept"
    if len(words) == 1:
        return "geo"
    return "person"


def extract_triples(text: str, is_first_chunk: bool = True) -> list[dict]:
    """Deterministic SVO extraction from one chunk of text.

    Returns dicts: subj, subj_type, pred, obj, obj_type, description,
    weight (1.0 per mention — summed by the T5 relation merge, matching
    the reference's summed edge weights).

    Overlap semantics: the two skips below are FRAGMENT guards (a
    sentence cut mid-way by the window boundary must not yield garbage
    triples), not overlap dedup. A sentence that lies complete inside
    the 128-token overlap is extracted in BOTH adjacent chunks and its
    mentions merge at weight 2 — the same double extraction the
    reference's per-chunk LLM pass performs on its own overlapping
    windows (chunking_by_token_size overlap → both chunks hit the
    extractor). The P/R gate compares DISTINCT triples, which both
    conventions agree on.
    """
    out: list[dict] = []
    if not text:
        return out
    sentences = _SENT_SPLIT.split(text)
    for si, sent in enumerate(sentences):
        if si == 0 and not is_first_chunk:
            continue  # possible leading fragment (intact copy in prev chunk)
        s = sent.strip()
        if not s or s[-1] not in ".!?":
            continue  # trailing fragment (intact copy in next chunk)
        spans = [(m.group(0), m.start(), m.end()) for m in _ENTITY_SPAN.finditer(s)]
        # drop 1-char spurious spans like "A"
        spans = [sp for sp in spans if len(sp[0]) > 1]
        for (a, _as, ae), (b, bs, _be) in zip(spans, spans[1:]):
            gap = s[ae:bs]
            pred = " ".join(_PRED_CLEAN.sub(" ", gap.lower()).split())
            if not pred or len(pred.split()) > 6:
                continue
            out.append(
                {
                    "subj": a,
                    "subj_type": entity_type(a),
                    "pred": pred,
                    "obj": b,
                    "obj_type": entity_type(b),
                    "description": s,
                    "weight": 1.0,
                }
            )
    return out


def extract_mentions(chunks: DataFrame) -> DataFrame:
    """chunks(chunk_id, doc_id, chunk_ix, content) → mentions table.

    ``mapInPandas`` = Arrow-batched, one-to-many, narrow (no shuffle).
    Each Arrow batch is where a real deployment would call its batched
    LLM/NER inference; the deterministic extractor below stands in for
    its output.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "chunk_id", "doc_id", "subj", "subj_type", "pred", "obj",
            "obj_type", "description", "weight",
        ]
        for pdf in batches:
            # column-wise accumulation: pd.DataFrame from dict-of-lists
            # skips the per-row dict materialization of the previous
            # list-of-dicts form (~2x faster batch construction)
            data = {c: [] for c in cols}
            for cid, did, ix, content in zip(
                pdf["chunk_id"], pdf["doc_id"], pdf["chunk_ix"], pdf["content"]
            ):
                for t in extract_triples(content, is_first_chunk=(ix == 0)):
                    data["chunk_id"].append(cid)
                    data["doc_id"].append(did)
                    data["subj"].append(t["subj"])
                    data["subj_type"].append(t["subj_type"])
                    data["pred"].append(t["pred"])
                    data["obj"].append(t["obj"])
                    data["obj_type"].append(t["obj_type"])
                    data["description"].append(t["description"])
                    data["weight"].append(t["weight"])
            yield pd.DataFrame(data, columns=cols)

    return chunks.select("chunk_id", "doc_id", "chunk_ix", "content").mapInPandas(
        run, schema=MENTIONS_SCHEMA
    )
