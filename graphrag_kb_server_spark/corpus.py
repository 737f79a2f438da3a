"""Deterministic synthetic ``web_pages`` corpus (FIXTURES.md §1).

Schema is the authoritative input shape from BASELINE.json input_hint:
``web_pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING,
lang STRING)`` — a Common-Crawl-style table. The generator is a pure
function of ``(seed, i)`` per row, so it is reproducible regardless of
how many partitions generate it, and entity mentions are Zipf(s=1.2)
distributed so hub-entity skew is exercised (the skew the salted
two-phase aggregation in operators/graph_build.py exists for).

Ground truth: ``text`` embeds sentences "{EntityA} {predicate} {EntityB}."
drawn from a seeded vocabulary; golden triples/chunks are derived by
running the same deterministic extractor/chunker used by the engine
(SURVEY.md §7 determinism substitution).
"""

from __future__ import annotations

import datetime as _dt
import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

WEB_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)

N_SITES = 20
_BASE_EPOCH = _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)

_FIRST = ["Alice", "Robert", "Maria", "Chen", "Fatima", "James", "Ingrid", "Kofi",
          "Yuki", "Elena", "Omar", "Priya", "Lucas", "Nadia", "Tomas", "Greta"]
_LAST = ["Johnson", "Baldock", "Garcia", "Wei", "Hassan", "Smith", "Larsen",
         "Mensah", "Tanaka", "Petrova", "Farouk", "Sharma", "Silva", "Kovacs"]
_ORG_A = ["Acme", "Globex", "Initech", "Umbrella", "Stark", "Wayne", "Hooli",
          "Vandelay", "Wonka", "Tyrell", "Cyberdyne", "Aperture"]
_ORG_B = ["Systems", "Industries", "Analytics", "Dynamics", "Labs", "Holdings",
          "Networks", "Robotics", "Energy", "Capital"]
_PLACE = ["London", "Berlin", "Tokyo", "Lagos", "Mumbai", "Toronto", "Lisbon",
          "Oslo", "Cairo", "Seoul", "Lima", "Prague", "Dublin", "Vienna"]
_CONCEPT = ["Artificial Intelligence", "Knowledge Graph", "Data Mesh",
            "Quantum Computing", "Graph Analytics", "Vector Search",
            "Machine Learning", "Distributed Systems"]

_PREDICATES = ["acquired", "founded", "advises", "partnered with", "invested in",
               "employs", "is located in", "collaborates with", "supplies",
               "mentors", "researches", "competes with"]

_FILLER = ("the quarterly report highlights steady progress across regions while "
           "analysts note broad interest in emerging technology markets").split()


def entity_vocab() -> list[tuple[str, str]]:
    """Deterministic (name, type) vocabulary, ~560 entities."""
    vocab: list[tuple[str, str]] = []
    for f in _FIRST:
        for l in _LAST:
            vocab.append((f + " " + l, "person"))
    for a in _ORG_A:
        for b in _ORG_B:
            vocab.append((a + " " + b, "organization"))
    for p in _PLACE:
        vocab.append((p, "geo"))
    for c in _CONCEPT:
        vocab.append((c, "concept"))
    return vocab


def _zipf_probs(n: int, s: float = 1.2) -> np.ndarray:
    ranks = np.arange(1, n + 1, dtype=np.float64)
    w = ranks ** (-s)
    return w / w.sum()


def _slug(i: int) -> str:
    return f"page-{i:08d}"


_VOCAB_CACHE: list[tuple[str, str]] | None = None
_PROBS_CACHE: np.ndarray | None = None


def _vocab_and_probs() -> tuple[list[tuple[str, str]], np.ndarray]:
    global _VOCAB_CACHE, _PROBS_CACHE
    if _VOCAB_CACHE is None:
        _VOCAB_CACHE = entity_vocab()
        _PROBS_CACHE = _zipf_probs(len(_VOCAB_CACHE))
    return _VOCAB_CACHE, _PROBS_CACHE


def row(seed: int, i: int, sent_range: tuple[int, int] = (3, 9)) -> dict:
    """Generate web_pages row ``i`` as a pure function of (seed, i).

    ``sent_range`` controls document size: the default (3, 9) sentences
    (~0.5 KB) is what the golden fixtures pin; benchmarks use bigger
    Common-Crawl-realistic pages (e.g. (24, 72) ≈ 4 KB) via the same
    deterministic generator.
    """
    digest = hashlib.md5(f"{seed}:{i}".encode()).digest()
    rng = np.random.default_rng(int.from_bytes(digest[:8], "big"))
    vocab, probs = _vocab_and_probs()

    n_sent = int(rng.integers(sent_range[0], sent_range[1]))
    sentences: list[str] = []
    for _ in range(n_sent):
        a, b = rng.choice(len(vocab), size=2, replace=False, p=probs)
        pred = _PREDICATES[int(rng.integers(0, len(_PREDICATES)))]
        sentences.append(f"{vocab[a][0]} {pred} {vocab[b][0]}.")
        if rng.random() < 0.5:
            k = int(rng.integers(4, 10))
            words = [ _FILLER[int(j)] for j in rng.integers(0, len(_FILLER), k) ]
            sentences.append(" ".join(words) + ".")
    text = " ".join(sentences)

    lang_roll = rng.random()
    lang = "en" if lang_roll >= 0.02 else ("de" if lang_roll >= 0.01 else "fr")
    url = f"https://site{i % N_SITES}.example/{_slug(i)}"
    ts = _BASE_EPOCH + _dt.timedelta(seconds=int(rng.integers(0, 86400 * 120)))
    paragraphs = "".join(f"<p>{s}</p>" for s in sentences)
    html = (
        f"<html><head><title>{_slug(i)}</title></head><body>"
        f"<nav>home | about | contact</nav>{paragraphs}"
        f"<footer>copyright 2026 site{i % N_SITES}</footer></body></html>"
    ).encode("utf-8")
    return {
        "url": url,
        "warc_ts": ts.replace(tzinfo=None),  # session TZ pinned to UTC
        "html": html,
        "text": text,
        "lang": lang,
    }


#: the seed of the generated corpus
SEED = 42


def generate_pandas(n_rows: int, seed: int = SEED) -> pd.DataFrame:
    return pd.DataFrame([row(seed, i) for i in range(n_rows)])


def generate(spark: SparkSession, n_rows: int,
             n_partitions: int | None = None,
             sent_range: tuple[int, int] = (3, 9)) -> DataFrame:
    """Distributed generation: each partition generates its own row range
    via mapInPandas, so the corpus scales without a driver bottleneck
    (at 10^12 rows this is the same pattern — range() is a distributed
    source and row(SEED, i) is partition-location-independent)."""
    n_partitions = n_partitions or max(1, min(32, n_rows // 250 or 1))
    base = spark.range(0, n_rows, 1, n_partitions)

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([row(SEED, int(i), sent_range) for i in pdf["id"]])

    return base.mapInPandas(gen, schema=WEB_PAGES_SCHEMA)
