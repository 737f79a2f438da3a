"""Deterministic hash-embedding — the sandbox stand-in for the reference's
OpenAI ``text-embedding-3-small`` slot (1536-d, injected at
/root/reference/graphrag_kb_server/service/lightrag/lightrag_init.py:83).

Contract preserved: batched text → ``ARRAY<FLOAT>`` via an Arrow-batched
pandas UDF (series → series), L2-normalized. Swapping a real embedding
client in is a one-line change inside ``embed_batch`` — the Spark plan
(mapInPandas/pandas_udf stage) is identical.

The stand-in: character-3-gram feature hashing into ``EMBEDDING_DIM``
buckets with a hash-derived sign, then L2 normalization. Pure function
of the text → identical across partitions/runs; similar strings get
similar vectors (shared n-grams), which is what the linking cosine
threshold relies on.
"""

from __future__ import annotations


import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

EMBEDDING_DIM = 64


# splitmix64 constants — a public-domain mixing function (Steele et al.,
# "Fast Splittable Pseudorandom Number Generators", OOPSLA'14); used here
# as a stateless deterministic hash of 3-gram codes, fully vectorized.
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _mix64(x: np.ndarray) -> np.ndarray:
    x = (x + _GOLDEN).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x *= _MIX1
    x ^= x >> np.uint64(27)
    x *= _MIX2
    x ^= x >> np.uint64(31)
    return x


def embed_text(text: str) -> np.ndarray:
    """Vectorized 3-gram feature hashing (no per-gram Python loop —
    ~100x faster than a hashlib-per-gram implementation, which matters
    when embedding 10^12 chunks)."""
    s = (text or "").lower().encode("utf-8", "ignore")
    if len(s) < 3:
        s = s + b"\x00" * (3 - len(s))
    b = np.frombuffer(s, dtype=np.uint8).astype(np.uint64)
    grams = (b[:-2] << np.uint64(16)) | (b[1:-1] << np.uint64(8)) | b[2:]
    with np.errstate(over="ignore"):
        h = _mix64(grams)
    buckets = (h % np.uint64(EMBEDDING_DIM)).astype(np.int64)
    signs = np.where((h >> np.uint64(7)) & np.uint64(1), 1.0, -1.0)
    v = np.zeros(EMBEDDING_DIM, dtype=np.float64)
    np.add.at(v, buckets, signs)
    n = np.linalg.norm(v)
    if n > 0:
        v /= n
    return v.astype(np.float32)


def embed_batch(texts: pd.Series) -> pd.Series:
    """The LLM-slot boundary: replace body with a real client for prod."""
    return texts.map(embed_text)


@F.pandas_udf(T.ArrayType(T.FloatType()))
def embed_udf(texts: pd.Series) -> pd.Series:
    return embed_batch(texts)
