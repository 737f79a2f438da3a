"""T2 — token-window chunking.

Reference semantics: tiktoken windows of ``max_token_size=1024`` stepping
``1024-128`` (overlap 128), decode each window, record
``(tokens, content, chunk_order_index, full_doc_id)`` — the
``chunking_by_token_size`` wrapper at
/root/reference/graphrag_kb_server/service/lightrag/lightrag_init.py:28-68
(defaults at :33-34). Chunk ids are content hashes
(``chunk-<md5(content)>``), as in the reference KV stores.

Spark design: a ``mapInPandas`` one-to-many stage (Arrow-batched; the
tokenizer is the only necessarily-Python step, same as tiktoken would
be), followed by JVM-side ``md5`` for ids and ONE id-keyed exchange
that collapses byte-identical chunks to a single row — the reference's
chunk store is a dict keyed by the content hash, so duplicates across
documents collapse there too. The windowing itself is narrow; at
100 TB the cost is one pass over the text bytes plus that dedup
shuffle (map-side partial-combined).

Constraint (same as the reference's): ``overlap_token_size`` must exceed
the longest sentence for the downstream per-chunk extractor to see every
sentence intact in at least one chunk.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tokenizer import decode, encode
from ..functions.text import chunk_id as chunk_id_col

DEFAULT_MAX_TOKENS = 1024
DEFAULT_OVERLAP = 128

CHUNKS_SCHEMA = (
    "chunk_id string, doc_id string, chunk_ix int, n_tokens int, "
    "content string, file_path string"
)


def chunk_text(
    content: str,
    max_token_size: int = DEFAULT_MAX_TOKENS,
    overlap_token_size: int = DEFAULT_OVERLAP,
) -> list[dict]:
    """Pure-Python chunker shared by the engine and the golden fixtures.

    Mirrors lightrag's ``chunking_by_token_size`` windowing EXACTLY:
    every start in range(0, n_tokens, max-overlap) yields a window
    (content = decoded window, stripped) — including the trailing
    overlap-only windows whose content is a suffix of the previous
    chunk. The reference emits those (no early break in its loop), so
    suppressing them would change chunk counts, ids and downstream
    extraction coverage vs the reference index.
    """
    tokens = encode(content)
    step = max_token_size - overlap_token_size
    out: list[dict] = []
    for ix, start in enumerate(range(0, len(tokens), step)):
        window = tokens[start : start + max_token_size]
        out.append(
            {
                "tokens": len(window),
                "content": decode(window).strip(),
                "chunk_ix": ix,
            }
        )
    return out


def chunk_documents(
    docs: DataFrame,
    max_token_size: int = DEFAULT_MAX_TOKENS,
    overlap_token_size: int = DEFAULT_OVERLAP,
) -> DataFrame:
    """docs(doc_id, content, file_path) → chunks table (CHUNKS_SCHEMA)."""

    def explode_chunks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "chunk_id", "doc_id", "chunk_ix", "n_tokens", "content",
            "file_path",
        ]
        for pdf in batches:
            # dict-of-lists batch construction (see extraction.py)
            data = {c: [] for c in cols}
            for did, content, fp in zip(
                pdf["doc_id"], pdf["content"], pdf["file_path"]
            ):
                for c in chunk_text(content, max_token_size, overlap_token_size):
                    data["chunk_id"].append("")  # filled JVM-side below
                    data["doc_id"].append(did)
                    data["chunk_ix"].append(c["chunk_ix"])
                    data["n_tokens"].append(c["tokens"])
                    data["content"].append(c["content"])
                    data["file_path"].append(fp)
            yield pd.DataFrame(data, columns=cols)

    chunks = docs.select("doc_id", "content", "file_path").mapInPandas(
        explode_chunks, schema=CHUNKS_SCHEMA
    )
    # content-hash id computed by the JVM md5 builtin (codegen), not Python
    out = chunks.withColumn("chunk_id", chunk_id_col(F.col("content")))
    # The reference's text_chunks store is a dict keyed by this same
    # content-hash id, so byte-identical chunks from DIFFERENT documents
    # (mirrored articles, boilerplate pages — common on the web)
    # collapse to ONE row there. Without this dedup a duplicated chunk
    # fans out in every downstream chunk_id join (double-counted tokens
    # in the query budget, inflated mention weights). Winner is the
    # deterministic MIN (doc_id, chunk_ix, file_path) rather than the
    # reference's processing-order last-wins (which is not reproducible
    # under parallel ingestion); the aggregation partial-combines
    # map-side, so the exchange it adds is duplicate-bounded per id and
    # is the price of the reference's id-keyed store semantics.
    return (
        out.groupBy("chunk_id")
        .agg(
            F.min(
                F.struct("doc_id", "chunk_ix", "n_tokens", "content", "file_path")
            ).alias("_w")
        )
        .select(
            "chunk_id",
            F.col("_w.doc_id").alias("doc_id"),
            F.col("_w.chunk_ix").alias("chunk_ix"),
            F.col("_w.n_tokens").alias("n_tokens"),
            F.col("_w.content").alias("content"),
            F.col("_w.file_path").alias("file_path"),
        )
    )
