"""Seeded inputs for the benchmark workloads.

Every input is a pure function of (generator, seed, size). Corpora are
written once as parquet under ``perfbench/.cache`` and reused; the
program under test only ever sees that parquet and the request strings.
Generation runs in the harness process, before the measured process
starts, so it is never part of any timing.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from graphrag_kb_server_spark import corpus

CACHE_DIR = Path(__file__).resolve().parent / ".cache"

# ── wide corpus: a flat-skew vocabulary of ~150k two-word names ─────────
_ONSETS = ["B", "D", "F", "G", "K", "L", "M", "N", "P", "R", "S", "T", "V",
           "Z", "Br", "Dr", "Gr", "Kr", "Tr", "St"]
_VOWELS = ["a", "e", "i", "o", "u"]
_CODAS = ["ran", "len", "vik", "mor", "dis", "tal", "nor", "bek", "sun", "gar"]
_WIDE_PREDICATES = ["acquired", "founded", "advises", "partnered with",
                    "invested in", "employs", "supplies", "mentors",
                    "collaborates with", "competes with"]
_FILLER = ("the annual review notes steady growth across several regional "
           "markets while observers expect further expansion").split()
WIDE_ZIPF_S = 0.6


def _wide_words() -> list[str]:
    """400 capitalized pseudo-words (onset + vowel + coda), in a fixed order."""
    words = [o + v + c for o in _ONSETS for v in _VOWELS for c in _CODAS]
    return words[:400]


def wide_vocab() -> list[str]:
    """150,000 distinct 'Given Family' names; rank order is a fixed shuffle
    so that head names are not all alphabetical neighbours."""
    words = _wide_words()
    names = [f"{a} {b}" for a in words for b in words if a != b][:150_000]
    order = np.random.default_rng(20240611).permutation(len(names))
    return [names[i] for i in order]


def _zipf_probs(n: int, s: float) -> np.ndarray:
    w = np.arange(1, n + 1, dtype=np.float64) ** (-s)
    return w / w.sum()


def _wide_rows(seed: int, n_docs: int, sent_range: tuple[int, int]) -> list[dict]:
    vocab = wide_vocab()
    probs = _zipf_probs(len(vocab), WIDE_ZIPF_S)
    rng = np.random.default_rng([seed, 7])
    base = dt.datetime(2026, 1, 1)
    rows = []
    for i in range(n_docs):
        n_sent = int(rng.integers(sent_range[0], sent_range[1]))
        picks = rng.choice(len(vocab), size=2 * n_sent, p=probs)
        sentences = []
        for k in range(n_sent):
            a, b = int(picks[2 * k]), int(picks[2 * k + 1])
            if a == b:
                b = (b + 1) % len(vocab)
            pred = _WIDE_PREDICATES[int(rng.integers(0, len(_WIDE_PREDICATES)))]
            sentences.append(f"{vocab[a]} {pred} {vocab[b]}.")
            if rng.random() < 0.3:
                words = [_FILLER[int(j)] for j in rng.integers(0, len(_FILLER), 6)]
                sentences.append(" ".join(words) + ".")
        text = " ".join(sentences)
        slug = f"wide-{seed}-{i:07d}"
        rows.append({
            "url": f"https://wide{i % 20}.example/{slug}",
            "warc_ts": base + dt.timedelta(seconds=int(rng.integers(0, 86400 * 120))),
            "html": f"<html><body><p>{text}</p></body></html>".encode(),
            "text": text,
            "lang": "en",
        })
    return rows


def _hub_rows(seed: int, n_docs: int, sent_range: tuple[int, int]) -> list[dict]:
    # corpus.row is the per-row pure function behind corpus.generate; calling
    # it here yields the same rows without starting Spark in this process
    return [corpus.row(seed, i, sent_range) for i in range(n_docs)]


GENERATORS = {"hub": _hub_rows, "wide": _wide_rows}


def ensure_corpus(generator: str, seed: int, n_docs: int,
                  sent_range: tuple[int, int]) -> tuple[Path, dict]:
    """Return (parquet path, meta) for the cached corpus, generating it on
    first use. meta holds the doc count and the input text bytes."""
    key = f"{generator}-s{seed}-n{n_docs}-r{sent_range[0]}_{sent_range[1]}"
    path = CACHE_DIR / f"{key}.parquet"
    meta_path = CACHE_DIR / f"{key}.json"
    if not (path.exists() and meta_path.exists()):
        rows = GENERATORS[generator](seed, n_docs, sent_range)
        table = pa.Table.from_pylist(rows, schema=pa.schema([
            # tz-aware, so Spark reads TIMESTAMP like corpus.WEB_PAGES_SCHEMA
            ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
        ]))
        meta = {
            "docs": n_docs,
            "text_bytes": sum(len(r["text"].encode("utf-8")) for r in rows),
            "urls": sorted(r["url"] for r in rows),
        }
        CACHE_DIR.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".tmp{os.getpid()}")
        pq.write_table(table, tmp)
        os.replace(tmp, path)
        tmp_meta = meta_path.with_suffix(f".tmp{os.getpid()}")
        tmp_meta.write_text(json.dumps(meta))
        os.replace(tmp_meta, meta_path)
    return path, json.loads(meta_path.read_text())


# ── requests ────────────────────────────────────────────────────────────
REQUEST_KINDS = ("hybrid", "mix", "answer")
_TEMPLATES = [
    "What is the relationship between {a} and {b}?",
    "How does {a} work with {b}?",
    "Tell me about {a} and its links to {b}.",
]


#: request i asks question i mod REQUEST_PERIOD of the seed; a multiple of
#: len(REQUEST_KINDS), so a question always goes with the same kind
REQUEST_PERIOD = 6


def request_text(generator: str, seed: int, i: int) -> str:
    """Request ``i`` of a run: a question naming one head (hub) entity and
    one tail entity of the corpus vocabulary. Questions repeat with period
    REQUEST_PERIOD, so every request has a pinned context however many fit
    in a run. The trailing tag makes every string distinct, so the LLM
    answer cache never hits; it holds no letters and is one number token
    wherever its digits change, so the program's keywords and token budgets
    (and with them the context) do not depend on it."""
    if generator == "hub":
        names = [n for n, _t in corpus.entity_vocab()]
        head_n = 20
    else:
        names = wide_vocab()
        head_n = 200
    rng = np.random.default_rng([seed, 11, i % REQUEST_PERIOD])
    a = names[int(rng.integers(0, head_n))]
    b = names[int(rng.integers(head_n, min(len(names), head_n * 25)))]
    tmpl = _TEMPLATES[int(rng.integers(0, len(_TEMPLATES)))]
    return tmpl.format(a=a, b=b) + f" (request {seed}.{i})"
