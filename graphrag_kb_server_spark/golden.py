"""Golden-fixture generation (FIXTURES.md §2) — the 'reference' side of
the P/R ≥ 0.95 gate.

These run the SAME deterministic stand-in functions as the engine's UDF
slots, but single-threaded in plain pandas over whole documents — an
independent execution path (no Spark) against which the distributed
pipeline's outputs are compared:

- golden_text(url)        → byte-identical extracted text invariant
- golden_kg_chunks(n)     → expected token-window chunking
- golden_triples(corpus)  → expected distinct (subj, pred, obj) per url

The ``golden_kg_*`` family below are exact twins of the driver-contract
``kg_*`` queries in ``__spark_entry__.py`` (chunk table, chunked triple
set, merged nodes with degrees, canonical map): single-threaded pandas /
pure python re-derivations of the same semantics, used to generate
pinned VALUES oracles — so the DuckDB comparison verifies the
DISTRIBUTED execution (partitioning, shuffles, chunk boundaries, merge
aggregations, LSH blocking) against an independent sequential path.
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd

from .corpus import generate_pandas
from .functions.text import extract_text_py
from .operators.chunking import chunk_text
from .operators.extraction import extract_triples


def golden_documents(n_rows: int, seed: int = 42) -> pd.DataFrame:
    pages = generate_pandas(n_rows, seed)
    pages["content"] = [
        extract_text_py(t, u) for t, u in zip(pages["text"], pages["url"])
    ]
    return pages[["url", "warc_ts", "lang", "content"]]


def golden_pack_sequences(
    n_rows: int,
    budget: int = 512,
    n_buckets: int = 8,
    pack_seed: str = "42",
    seed: int = 42,
) -> pd.DataFrame:
    """Sequential twin of operators/sampling.pack_sequences over the
    deterministic corpus (tokens = whitespace token count of the
    extracted content): same md5-slice bucket hash, same
    (tokens desc, id asc) FFD placement, run in plain python — the
    pinned VALUES oracle for the sample_pack_sequences driver entry."""
    docs = golden_documents(n_rows, seed)
    items = [
        (url, len(content.split()))
        for url, content in zip(docs["url"], docs["content"])
    ]
    buckets: dict[int, list[tuple[str, int]]] = {}
    for url, t in items:
        b = (
            int(
                hashlib.md5(
                    f"{url}\x1fpack\x1f{pack_seed}".encode("utf-8")
                ).hexdigest()[:8],
                16,
            )
            % n_buckets
        )
        buckets.setdefault(b, []).append((url, t))
    rows = []
    for b, lst in buckets.items():
        lst.sort(key=lambda x: (-x[1], x[0]))
        remaining: list[int] = []
        for url, t in lst:
            if t >= budget:
                ix = len(remaining)
                remaining.append(0)
                rows.append((url, t, b, ix, True))
                continue
            placed = -1
            for i, rem in enumerate(remaining):
                if rem >= t:
                    placed = i
                    remaining[i] = rem - t
                    break
            if placed < 0:
                placed = len(remaining)
                remaining.append(budget - t)
            rows.append((url, t, b, placed, False))
    return pd.DataFrame(
        rows, columns=["id", "tokens", "bucket", "bin_ix", "oversize"]
    )


def golden_triples(n_rows: int, seed: int = 42) -> pd.DataFrame:
    """Distinct (url, subj, pred, obj) from whole-document extraction."""
    docs = golden_documents(n_rows, seed)
    rows = []
    for url, content in zip(docs["url"], docs["content"]):
        for t in extract_triples(content, is_first_chunk=True):
            rows.append(
                {"url": url, "subj": t["subj"], "pred": t["pred"], "obj": t["obj"]}
            )
    return pd.DataFrame(rows).drop_duplicates().reset_index(drop=True)


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def golden_kg_chunks(n_rows: int, seed: int = 42) -> pd.DataFrame:
    """Twin of the kg_chunks driver query: (chunk_id, doc_id, chunk_ix,
    n_tokens) with the engine's content-hash ids."""
    docs = golden_documents(n_rows, seed)
    rows = []
    for content in docs["content"]:
        did = "doc-" + _md5(content)
        for c in chunk_text(content):
            rows.append(
                {
                    "chunk_id": "chunk-" + _md5(c["content"]),
                    "doc_id": did,
                    "chunk_ix": c["chunk_ix"],
                    "n_tokens": c["tokens"],
                }
            )
    return pd.DataFrame(rows)


def golden_kg_mentions(n_rows: int, seed: int = 42) -> pd.DataFrame:
    """Per-chunk mention extraction — the T3 output the Spark pipeline
    produces (chunk boundaries and fragment suppression included)."""
    docs = golden_documents(n_rows, seed)
    rows = []
    for content in docs["content"]:
        did = "doc-" + _md5(content)
        for c in chunk_text(content):
            cid = "chunk-" + _md5(c["content"])
            for t in extract_triples(c["content"], is_first_chunk=(c["chunk_ix"] == 0)):
                rows.append({"chunk_id": cid, "doc_id": did, **t})
    return pd.DataFrame(rows)


def golden_kg_triples(n_rows: int, seed: int = 42) -> pd.DataFrame:
    """Distinct (subj, pred, obj) from CHUNKED extraction — twin of the
    kg_triples driver query."""
    m = golden_kg_mentions(n_rows, seed)
    return m[["subj", "pred", "obj"]].drop_duplicates().reset_index(drop=True)


def golden_kg_nodes(n_rows: int, seed: int = 42) -> pd.DataFrame:
    """Twin of kg_nodes: T4 entity merge + T7 degree over merged
    undirected edges — (name, type, degree, mention_count)."""
    m = golden_kg_mentions(n_rows, seed)
    sides = pd.concat(
        [
            m[["subj", "subj_type"]].rename(columns={"subj": "name", "subj_type": "type"}),
            m[["obj", "obj_type"]].rename(columns={"obj": "name", "obj_type": "type"}),
        ]
    )
    nodes = sides.groupby("name").agg(
        type=("type", "min"), mention_count=("type", "size")
    )
    epairs = {
        (min(s, o), max(s, o)) for s, o in zip(m["subj"], m["obj"])
    }
    deg: dict[str, int] = {}
    for s, t in epairs:
        deg[s] = deg.get(s, 0) + 1
        deg[t] = deg.get(t, 0) + 1
    nodes["degree"] = [deg.get(n, 0) for n in nodes.index]
    return nodes.reset_index()[["name", "type", "degree", "mention_count"]]


def _char_shingles(s: str, k: int = 3) -> list[str]:
    s = s.lower()
    n = max(len(s) - (k - 1), 1)
    return list(dict.fromkeys(s[i : i + k] for i in range(n)))


def _initials(name: str) -> str:
    # Java regex \s is [ \t\n\x0B\f\r]; Python's additionally matches
    # \x1c-\x1f — use the Java class so the twin splits exactly like
    # Catalyst's F.split(name, r"\s+") (found by hypothesis)
    return "".join(w[:1] for w in re.split(r"[ \t\n\x0B\f\r]+", name)).upper()


def _fold_dot(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _fold_norm(a: list[float]) -> float:
    acc = 0.0
    for x in a:
        acc += x * x
    return acc ** 0.5


def golden_kg_canonical_map(n_rows: int, seed: int = 42) -> pd.DataFrame:
    """Twin of kg_canonical_map: MinHash-LSH candidate blocking (8
    hashes = one md5 per shingle sliced 4-hex-wide, 4 bands × 2 rows,
    oversized-bucket split at 64) → hash-embedding cosine ≥ 0.80 →
    abbreviation channel → connected components (min member)."""
    from .functions.embedding import embed_text

    names = sorted(golden_kg_nodes(n_rows, seed)["name"].unique())

    # minhash signature + band keys, exactly as hashing.py slices them
    buckets: dict[str, list[str]] = {}
    for name in names:
        hexes = [_md5(g) for g in _char_shingles(name)]
        sig = [min(h[i * 4 : i * 4 + 4] for h in hexes) for i in range(8)]
        for b in range(4):
            key = f"{b}|{sig[2 * b]}|{sig[2 * b + 1]}"
            buckets.setdefault(key, []).append(name)

    # oversized buckets split by md5-prefix hash-mod, exactly like
    # dedup.split_oversized_buckets (never dropped)
    pairs: set[tuple[str, str]] = set()
    for key, members in buckets.items():
        if len(members) > 64:
            nsub = -(-len(members) // 64)
            groups: dict[int, list[str]] = {}
            for name in members:
                groups.setdefault(int(_md5(name)[:8], 16) % nsub, []).append(name)
            subs = list(groups.values())
        else:
            subs = [members]
        for sub in subs:
            sub = sorted(sub)
            for i, a in enumerate(sub):
                for b in sub[i + 1 :]:
                    pairs.add((a, b))

    # embedding-cosine scoring with the engine's fold order (bit-stable)
    emb = {
        n: [float(x) for x in embed_text(n)] for n in names
    }  # float32 values widened to float64, as to_double does
    scored = set()
    for a, b in pairs:
        denom = _fold_norm(emb[a]) * _fold_norm(emb[b])
        cos = 0.0 if denom == 0.0 else _fold_dot(emb[a], emb[b]) / denom
        if cos >= 0.80:
            scored.add((a, b))

    for a in names:  # abbreviation channel (single-word expansions too)
        if " " in a:
            continue
        for b in names:
            if a != b and a.upper() == _initials(b):
                scored.add((a, b))

    # connected components; canonical = LONGEST member of the component
    # (ties lexicographic) — the expansion survives an abbreviation
    # link, mirroring the reference's abbreviation removal
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in scored:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    members: dict[str, list[str]] = {}
    for n in names:
        members.setdefault(find(n), []).append(n)
    rep = {
        root: sorted(ms, key=lambda n: (-len(n), n))[0]
        for root, ms in members.items()
    }
    return pd.DataFrame(
        {"name": names, "canonical_name": [rep[find(n)] for n in names]}
    )


def precision_recall(
    predicted: pd.DataFrame, golden: pd.DataFrame, keys: list[str]
) -> tuple[float, float]:
    p = set(map(tuple, predicted[keys].itertuples(index=False)))
    g = set(map(tuple, golden[keys].itertuples(index=False)))
    if not p or not g:
        return (0.0, 0.0)
    tp = len(p & g)
    return (tp / len(p), tp / len(g))


# ──────────────────────────────────────────────────────────────────────
# Sequential twin of the FULL 4-stage kg_query pipeline (the composite
# the driver checks as kg_query_context). Mirrors
# plans/query_pipeline.py:kg_query stage by stage in pure python over
# the golden graph twins — reference lightrag_search.py:930-1386.
# ──────────────────────────────────────────────────────────────────────


def _spark_to_json(d: dict) -> str:
    """Twin of F.to_json(struct(...)): compact separators, raw UTF-8."""
    import json

    return json.dumps(d, ensure_ascii=False, separators=(",", ":"))


def _cosine(a: list[float], b: list[float]) -> float:
    """Twin of functions/vectors.py cosine: sequential folds, then
    norm(a)*norm(b) denominator — bit-identical float64 op order."""
    denom = _fold_norm(a) * _fold_norm(b)
    return 0.0 if denom == 0.0 else _fold_dot(a, b) / denom


def golden_kg_graph(n_rows: int, seed: int = 42) -> dict:
    """Full-attribute graph twins of build_nodes/build_edges/
    finalize_graph (operators/graph_build.py): nodes with bounded
    description/source_chunk_ids samples + exact counts, undirected
    summed edges, degrees. The per-salt capped samples compose to the
    global smallest-K, so the twin takes the global smallest-K
    directly."""
    SEP = "<SEP>"
    MAX_CHUNKS, MAX_DESCS = 64, 16
    docs = golden_documents(n_rows, seed)
    chunks = []  # (chunk_id, content, file_path)
    mentions = []  # dicts + chunk_id
    for url, content in zip(docs["url"], docs["content"]):
        for c in chunk_text(content):
            cid = "chunk-" + _md5(c["content"])
            chunks.append({"chunk_id": cid, "content": c["content"],
                           "file_path": url})
            for t in extract_triples(c["content"],
                                     is_first_chunk=(c["chunk_ix"] == 0)):
                mentions.append({"chunk_id": cid, **t})

    nodes: dict[str, dict] = {}
    for m in mentions:
        for name, typ in ((m["subj"], m["subj_type"]), (m["obj"], m["obj_type"])):
            n = nodes.setdefault(
                name, {"types": set(), "descs": set(), "chunks": set(),
                       "mention_count": 0}
            )
            n["types"].add(typ)
            n["descs"].add(m["description"])
            n["chunks"].add(m["chunk_id"])
            n["mention_count"] += 1

    edges: dict[tuple[str, str], dict] = {}
    for m in mentions:
        key = (min(m["subj"], m["obj"]), max(m["subj"], m["obj"]))
        e = edges.setdefault(
            key, {"weight": 0.0, "preds": set(), "descs": set(), "chunks": set()}
        )
        e["weight"] += m["weight"]
        e["preds"].add(m["pred"])
        e["descs"].add(m["description"])
        e["chunks"].add(m["chunk_id"])

    deg: dict[str, int] = {}
    for s, t in edges:
        deg[s] = deg.get(s, 0) + 1
        deg[t] = deg.get(t, 0) + 1

    node_rows = {
        name: {
            "name": name,
            "type": min(n["types"]),
            "description": SEP.join(sorted(n["descs"])[:MAX_DESCS]),
            "source_chunk_ids": sorted(n["chunks"])[:MAX_CHUNKS],
            "mention_count": n["mention_count"],
            "degree": deg.get(name, 0),
        }
        for name, n in nodes.items()
    }
    edge_rows = {
        (s, t): {
            "src": s, "tgt": t,
            "weight": e["weight"],
            "keywords": SEP.join(sorted(e["preds"])),
            "description": SEP.join(sorted(e["descs"])[:MAX_DESCS]),
            "source_chunk_ids": sorted(e["chunks"])[:MAX_CHUNKS],
            "combined_degree": deg.get(s, 0) + deg.get(t, 0),
        }
        for (s, t), e in edges.items()
    }
    # path properties: url → warc_ts (P12 last_modified)
    path_props = {u: ts for u, ts in zip(docs["url"], docs["warc_ts"])}
    return {"nodes": node_rows, "edges": edge_rows, "chunks": chunks,
            "path_props": path_props}


def _round_robin(branches: list[list[dict]], key_fn) -> list[dict]:
    """Twin of operators/merge.py round_robin_merge over pre-ranked
    branch lists: interleave = pos * n + branch, first occurrence per
    key wins, dense merge_ix in interleave order."""
    n = len(branches)
    tagged = []
    for b_ix, rows in enumerate(branches):
        for pos, r in enumerate(rows):
            tagged.append((pos * n + b_ix, r))
    tagged.sort(key=lambda t: t[0])
    seen, out = set(), []
    for _, r in tagged:
        k = key_fn(r)
        if k in seen:
            continue
        seen.add(k)
        r = dict(r)
        r["merge_ix"] = len(out)
        out.append(r)
    return out


def _truncate(rows: list[dict], text_fn, budget: int) -> list[dict]:
    """Twin of truncate_by_token_budget (an over-budget FIRST row
    yields an empty list, as the reference's truncate_list_by_token_size
    does)."""
    from .tokenizer import count_tokens

    out, cum = [], 0
    for r in rows:
        cum += count_tokens(text_fn(r))
        if cum > budget:
            break
        out.append(r)
    return out


def _gather_chunks(selected: list[dict], member_key: str) -> list[dict]:
    """Twin of gather_chunks_from_members: explode provenance,
    occurrence = #selected members referencing the chunk, first member
    (min merge_ix) wins the chunk."""
    exploded = [
        {"member": r[member_key], "merge_ix": r["merge_ix"], "chunk_id": cid}
        for r in selected
        for cid in r["source_chunk_ids"]
    ]
    occ: dict[str, int] = {}
    for e in exploded:
        occ[e["chunk_id"]] = occ.get(e["chunk_id"], 0) + 1
    best: dict[str, dict] = {}
    for e in exploded:
        cur = best.get(e["chunk_id"])
        if cur is None or e["merge_ix"] < cur["merge_ix"]:
            best[e["chunk_id"]] = e
    return [
        {**e, "occurrence": occ[e["chunk_id"]]} for e in best.values()
    ]


def golden_kg_query_context(
    n_rows: int = 120,
    seed: int = 42,
    top_k: int = 10,
    mode: str = "hybrid",
    chunk_pick: str = "weighted_polling",
    related_chunks: int = 5,
    emit: str = "rows",
) -> pd.DataFrame:
    """Sequential twin of the kg_query composite the driver's
    kg_query_context entries run: stage 1 search (entity + relation
    vector top-k with cross-derivation), stage 2 token truncation,
    stage 3 chunk gather/polling/merge + the reference Q14 budget,
    stage 4 references + final context rows. ``mode="mix"`` adds the
    chunk-vector branch and the 3-way (pos*3+branch) merge (Q4/Q13);
    ``chunk_pick="vector"`` swaps the Q11 gradient polling for the Q12
    cosine pick (top related*n_entities/2 candidates by similarity to
    the raw-query embedding, then occurrence order).
    Emits the same (section, ix, a, b, c) rows as the Spark entry."""
    import math

    from .functions.embedding import embed_text
    from .operators.context_ops import build_rag_prompt
    from .plans.query_pipeline import (
        KG_QUERY_CONTEXT_TEMPLATE,
        _json_lines,
        extract_keywords,
    )
    from .tokenizer import count_tokens

    MAX_ENTITY_TOKENS, MAX_RELATION_TOKENS = 100, 800
    MAX_TOTAL_TOKENS, RELATED_CHUNKS = 5000, related_chunks

    g = golden_kg_graph(n_rows, seed)
    nodes, edges = g["nodes"], g["edges"]
    hub = sorted(
        nodes.values(), key=lambda n: (-n["mention_count"], n["name"])
    )[0]["name"]
    query = f"What is the relationship between {hub} and others?"
    keywords = extract_keywords(query)
    qvec = [float(x) for x in embed_text(" ".join(keywords) if keywords else query)]

    ent_emb = {
        name: [float(x) for x in embed_text("\n".join([name, n["description"]]))]
        for name, n in nodes.items()
    }
    rel_emb = {
        key: [float(x) for x in embed_text("\t".join(key))] for key in edges
    }

    # ── stage 1: entity / relation top-k + cross-derivation — Q5 mode
    # dispatch mirrored exactly: local = entity search (+its incident
    # edges), global = relation search (+its endpoint entities),
    # hybrid/mix = both branches round-robin-interleaved ──────────────
    want_local = mode in ("local", "hybrid", "mix")
    want_global = mode in ("global", "hybrid", "mix")

    loc: list[dict] = []
    if want_local:
        ent_scores = {n: _cosine(v, qvec) for n, v in ent_emb.items()}
        loc = sorted(
            nodes.values(), key=lambda n: (-ent_scores[n["name"]], n["name"])
        )[:top_k]
        loc = [{**n, "vscore": ent_scores[n["name"]]} for n in loc]

    glob: list[dict] = []
    if want_global:
        rel_scores = {k: _cosine(v, qvec) for k, v in rel_emb.items()}
        glob = sorted(
            edges.values(),
            key=lambda e: (-rel_scores[(e["src"], e["tgt"])], e["src"]),
        )[:top_k]
        glob = [{**e, "vscore": rel_scores[(e["src"], e["tgt"])]} for e in glob]

    ent_branches: list[list[dict]] = []
    if want_local:
        ent_branches.append(loc)
    if want_global:
        # endpoint entities of top relations (max vscore per name)
        ep_score: dict[str, float] = {}
        for e in glob:
            for name in (e["src"], e["tgt"]):
                ep_score[name] = max(ep_score.get(name, float("-inf")), e["vscore"])
        ep = [
            {**nodes[name], "vscore": s}
            for name, s in ep_score.items() if name in nodes
        ]
        ep.sort(key=lambda r: (-r["vscore"], r["name"]))
        ent_branches.append(ep)
    entities = _round_robin(ent_branches, key_fn=lambda r: r["name"])
    n_entities_found = len(entities)

    rel_branches: list[list[dict]] = []
    if want_global:
        rel_branches.append(glob)
    if want_local:
        # edges incident to top local entities (max entity vscore/edge)
        inc_score: dict[tuple, float] = {}
        for r in loc:
            for key, e in edges.items():
                if r["name"] in key:
                    inc_score[key] = max(inc_score.get(key, float("-inf")), r["vscore"])
        inc = [{**edges[k], "vscore": s} for k, s in inc_score.items()]
        inc.sort(key=lambda r: (-r["vscore"], -r["weight"], r["src"], r["tgt"]))
        rel_branches.append(inc)
    relations = _round_robin(
        rel_branches, key_fn=lambda r: (r["src"], r["tgt"])
    )
    n_relations_found = len(relations)

    # ── stage 2: token truncation ─────────────────────────────────────
    entities = _truncate(
        entities,
        lambda r: _spark_to_json(
            {"entity": r["name"], "type": r["type"],
             "description": r["description"]}
        ),
        MAX_ENTITY_TOKENS,
    )
    relations = _truncate(
        relations,
        lambda r: _spark_to_json(
            {"entity1": r["src"], "entity2": r["tgt"],
             "description": r["description"]}
        ),
        MAX_RELATION_TOKENS,
    )
    ctx_entities = [
        {"entity": r["name"], "type": r["type"], "description": r["description"]}
        for r in entities
    ]
    ctx_relations = [
        {"entity1": r["src"], "entity2": r["tgt"], "description": r["description"]}
        for r in relations
    ]

    # ── stage 3: chunk gather / pick / merge / Q14 budget ────────────
    _emb_cache: dict[str, list[float]] = {}

    def _chunk_embs() -> dict[str, list[float]]:
        if not _emb_cache:
            for c in g["chunks"]:
                if c["chunk_id"] not in _emb_cache:
                    _emb_cache[c["chunk_id"]] = [
                        float(x) for x in embed_text(c["content"])
                    ]
        return _emb_cache

    ent_chunks = _gather_chunks(entities, "name")
    if chunk_pick == "vector":
        # Q12 twin: top related*n_entities/2 candidates by cosine to
        # the RAW query embedding (not the keyword-joined one), then
        # occurrence order — mirrors vector_similarity_chunk_pick +
        # kg_query's join-back
        emb = _chunk_embs()
        qvec_raw = [float(x) for x in embed_text(query)]
        num = max(int(RELATED_CHUNKS * len(entities) / 2), 1)
        scored = sorted(
            (
                (cid, _cosine(emb[cid], qvec_raw))
                for cid in {e["chunk_id"] for e in ent_chunks}
                if cid in emb
            ),
            key=lambda kv: (-kv[1], kv[0]),
        )[:num]
        keep = {cid for cid, _ in scored}
        picked = [e for e in ent_chunks if e["chunk_id"] in keep]
    else:
        r_total = len(entities)
        budget_total = RELATED_CHUNKS * r_total
        tri = r_total * (r_total + 1) / 2.0
        quota = {
            r["name"]: max(
                1,
                int(math.floor(budget_total * (r_total - r["merge_ix"]) / tri + 0.5)),
            )
            for r in entities
        }
        by_member: dict[str, list[dict]] = {}
        for e in ent_chunks:
            by_member.setdefault(e["member"], []).append(e)
        picked = []
        for member, rows in by_member.items():
            rows.sort(key=lambda r: (-r["occurrence"], r["chunk_id"]))
            picked.extend(rows[: quota.get(member, 0)] if member in quota else [])
    picked.sort(key=lambda r: (-r["occurrence"], r["chunk_id"]))

    rel_sel = [
        {**r, "member_name": f"{r['src']}|{r['tgt']}"} for r in relations
    ]
    rel_chunks = _gather_chunks(rel_sel, "member_name")
    ent_ids = {r["chunk_id"] for r in picked}
    rel_chunks = [r for r in rel_chunks if r["chunk_id"] not in ent_ids]
    rel_chunks.sort(key=lambda r: (-r["occurrence"], r["chunk_id"]))

    branches = [picked, rel_chunks]
    if mode == "mix":
        # Q4 chunk-vector branch (twin of _chunk_search, k = 2x
        # related_chunk_number, tie-break chunk_id) — branch 0 of the
        # Q13 3-way interleave
        cscore = {cid: _cosine(v, qvec) for cid, v in _chunk_embs().items()}
        vec = [
            {"chunk_id": cid, "vscore": s}
            for cid, s in sorted(
                cscore.items(), key=lambda kv: (-kv[1], kv[0])
            )[: RELATED_CHUNKS * 2]
        ]
        branches = [vec, picked, rel_chunks]
    merged = _round_robin(branches, key_fn=lambda r: r["chunk_id"])
    n_merged = len(merged)
    chunk_rows = {c["chunk_id"]: c for c in g["chunks"]}
    merged = [
        {**r, "content": chunk_rows[r["chunk_id"]]["content"],
         "file_path": chunk_rows[r["chunk_id"]]["file_path"]}
        for r in merged if r["chunk_id"] in chunk_rows
    ]

    pre_kg = KG_QUERY_CONTEXT_TEMPLATE.format(
        entities_str=_json_lines(ctx_entities, ("entity", "type", "description")),
        relations_str=_json_lines(
            ctx_relations, ("entity1", "entity2", "description")
        ),
        text_chunks_str="",
        reference_list_str="",
    )
    available = max(
        MAX_TOTAL_TOKENS
        - count_tokens(build_rag_prompt("", "Multiple Paragraphs", ""))
        - count_tokens(pre_kg)
        - count_tokens(query)
        - 200,
        0,
    )
    merged = _truncate(merged, lambda r: r["content"], available)

    # ── stage 4: references + final rows ──────────────────────────────
    refs, seen_paths = [], set()
    for r in merged:  # first occurrence per file_path by merge_ix
        if r["file_path"] not in seen_paths:
            seen_paths.add(r["file_path"])
            refs.append({"ref_ix": len(refs) + 1, "file_path": r["file_path"]})
    # <SEP> expansion (identity for single-url webtext paths)
    expanded, seen_exp = [], set()
    for ref in refs:
        for p in ref["file_path"].split("<SEP>"):
            if p not in seen_exp:
                seen_exp.add(p)
                expanded.append({"ref_ix": ref["ref_ix"], "file_path": p})
    ref_by_path = {r["file_path"]: r["ref_ix"] for r in expanded}

    def ref_for(raw: str) -> int:
        hits = [ref_by_path[p] for p in raw.split("<SEP>") if p in ref_by_path]
        return min(hits) if hits else 0

    if emit == "answer":
        # Q16/Q17/Q19 twin: assemble the full context string through
        # the same public template contract, build the rag_response
        # system prompt, and derive the deterministic-echo answer —
        # pure sequential functions of the rows computed above
        # (reference assembly lightrag_search.py:728-924, prompt
        # :87-117, answer post-cleanup :560-590).
        chunks_ser = [
            {"reference_id": ref_for(r["file_path"]), "content": r["content"]}
            for r in merged
        ]
        refs_ser = [
            {
                "reference_id": r["ref_ix"],
                "file_path": r["file_path"],
                "last_modified": g["path_props"][r["file_path"]],
            }
            for r in expanded
        ]
        ref_list_str = "\n".join(
            f"[{r['reference_id']}] {r['file_path']}"
            f" (last_modified: {r['last_modified'].isoformat()})"
            for r in refs_ser
            if r["reference_id"]
        )
        context_str = KG_QUERY_CONTEXT_TEMPLATE.format(
            entities_str=_json_lines(
                ctx_entities, ("entity", "type", "description")
            ),
            relations_str=_json_lines(
                ctx_relations, ("entity1", "entity2", "description")
            ),
            text_chunks_str=_json_lines(
                chunks_ser, ("reference_id", "content")
            ),
            reference_list_str=ref_list_str,
        )
        sys_prompt = build_rag_prompt(context_str, "Multiple Paragraphs", "")
        prompt = f"{sys_prompt}\n\n---Question---\n{query}\n"
        digest = _md5(prompt)[:12]
        answer = f"[deterministic-echo {digest}] {query}".strip()
        info = {
            "total_entities_found": n_entities_found,
            "total_relations_found": n_relations_found,
            "entities_after_truncation": len(ctx_entities),
            "relations_after_truncation": len(ctx_relations),
            "merged_chunks_count": n_merged,
            "final_chunks_count": len(merged),
            "available_chunk_tokens": available,
        }
        return {
            "query": query,
            "context_md5": _md5(context_str),
            "prompt_md5": _md5(prompt),
            "answer": answer,
            "references": refs_ser,
            "info": info,
        }

    rows = []  # emit == "rows"
    for i, e in enumerate(ctx_entities):
        rows.append(("entity", i, e["entity"], e["type"], _md5(e["description"])))
    for i, r in enumerate(ctx_relations):
        rows.append(("relation", i, r["entity1"], r["entity2"],
                     _md5(r["description"])))
    for i, r in enumerate(merged):
        rows.append(("chunk", i, str(ref_for(r["file_path"])), r["chunk_id"],
                     _md5(r["content"])))
    for r in expanded:
        lm = g["path_props"][r["file_path"]]
        rows.append(("reference", r["ref_ix"], r["file_path"],
                     lm.isoformat(), ""))
    info = {
        "total_entities_found": n_entities_found,
        "total_relations_found": n_relations_found,
        "entities_after_truncation": len(ctx_entities),
        "relations_after_truncation": len(ctx_relations),
        "merged_chunks_count": n_merged,
        "final_chunks_count": len(merged),
        "available_chunk_tokens": available,
    }
    for k in sorted(info):
        rows.append(("info", 0, k, str(info[k]), ""))
    return pd.DataFrame(rows, columns=["section", "ix", "a", "b", "c"])


def golden_kg_answer(n_rows: int = 120, mode: str = "hybrid") -> pd.DataFrame:
    """Driver-oracle frame for the end-to-end answer surface
    (Q16 context assembly → Q17 cached echo answer): the answer string
    embeds md5(prompt)[:12], so pinning it pins the exact prompt and
    context bytes transitively."""
    res = golden_kg_query_context(n_rows, mode=mode, emit="answer")
    rows = [("answer", 0, res["answer"])]
    for r in res["references"]:
        rows.append(("reference", r["reference_id"], r["file_path"]))
    for k in sorted(res["info"]):
        rows.append(("info", 0, f"{k}={res['info'][k]}"))
    return pd.DataFrame(rows, columns=["section", "ix", "a"])


def golden_kg_answer_prompt(n_rows: int = 120, mode: str = "hybrid") -> pd.DataFrame:
    """Driver-oracle frame for the Q19 prompt-only return: the full
    rag_response prompt (system sections + context + question framing)
    pinned by md5."""
    res = golden_kg_query_context(n_rows, mode=mode, emit="answer")
    rows = [("prompt_md5", 0, res["prompt_md5"])]
    for r in res["references"]:
        rows.append(("reference", r["reference_id"], r["file_path"]))
    return pd.DataFrame(rows, columns=["section", "ix", "a"])


# ── G2 modularity refinement twin (ring-of-triangles benchmark graph) ──

def golden_refine_graph_edges(n: int = 150, block: int = 10) -> list[tuple[str, str, float]]:
    """The deterministic refinement benchmark graph: ``n`` nodes in
    planted blocks of ``block``, three circulant edge families
    (offsets 1/3/37) whose weights favor intra-block structure but
    carry heavy cross-block noise. Chosen so each refinement phase
    BITES: LPA over-fragments (53 communities), mutual-best merges
    recover ~5 blocks (Q 0.55), and strict-gain local moves then
    relocate 26 boundary nodes (Q 0.60) — all integer weights, so
    driver and distributed paths are bit-identical."""
    v = lambda i: f"v{i:03d}"
    edges: list[tuple[str, str, float]] = []
    for i in range(n):
        for off, wi, wx in ((1, 2.0, 1.0), (3, 2.0, 2.0), (37, 1.0, 2.0)):
            j = (i + off) % n
            w = wi if j // block == i // block else wx
            edges.append((v(i), v(j), w))
    return edges


def golden_modularity_refine(
    outer_rounds: int = 2,
    max_merge_passes: int = 8,
    local_rounds: int = 6,
) -> pd.DataFrame:
    """Sequential re-derivation of LPA + modularity refinement over the
    planted-block benchmark graph — semi-sync label propagation
    (stride-3 md5-parity, prefer-current ties), then alternating
    mutual-best community merges and strict-gain local moves.
    Independent of operators/communities.py (pure python, adjacency
    dicts)."""
    import hashlib
    from collections import defaultdict

    edges = golden_refine_graph_edges()
    adj: dict = defaultdict(list)
    for s, t, w in edges:
        adj[s].append((t, w))
        adj[t].append((s, w))
    for lst in adj.values():
        lst.sort()
    nodes = sorted(adj)
    stride = 3
    par = {
        n: int(hashlib.md5(n.encode()).hexdigest()[:8], 16) % stride
        for n in nodes
    }
    m = sum(w for _, _, w in edges)
    deg = {n: sum(w for _, w in adj[n]) for n in nodes}

    # semi-sync LPA, 12 rounds max, full-sweep convergence
    lab = {n: n for n in nodes}
    it = 0
    while it < 12:
        changed = 0
        for _ in range(min(stride, 12 - it)):
            active = it % stride
            new = dict(lab)
            for n in nodes:
                if par[n] != active:
                    continue
                votes: dict = defaultdict(float)
                for nb, w in adj[n]:
                    votes[lab[nb]] += w
                top = max(votes.values())
                cands = [l for l, v in votes.items() if v == top]
                pick = lab[n] if lab[n] in cands else min(cands)
                if pick != lab[n]:
                    changed += 1
                new[n] = pick
            lab = new
            it += 1
        if changed == 0:
            break

    for _ in range(outer_rounds):
        # mutual-best merges
        for _p in range(max_merge_passes):
            tot: dict = defaultdict(float)
            for n in nodes:
                tot[lab[n]] += deg[n]
            inter: dict = defaultdict(float)
            for s, t, w in edges:
                cs, ct = lab[s], lab[t]
                if cs != ct:
                    inter[(min(cs, ct), max(cs, ct))] += w
            best: dict = {}
            for (ca, cb), w in sorted(inter.items()):
                dq = w / m - tot[ca] * tot[cb] / (2 * m * m)
                for x, y in ((ca, cb), (cb, ca)):
                    cur = best.get(x)
                    if cur is None or dq > cur[0] or (dq == cur[0] and y < cur[1]):
                        best[x] = (dq, y)
            merges = {}
            for x, (dq, y) in best.items():
                if dq > 0 and best.get(y, (0.0, None))[1] == x:
                    merges[max(x, y)] = min(x, y)
            if not merges:
                break
            lab = {n: merges.get(l, l) for n, l in lab.items()}
        # strict-gain semi-sync local moves
        for r in range(local_rounds):
            active = r % stride
            tot = defaultdict(float)
            for n in nodes:
                tot[lab[n]] += deg[n]
            new = dict(lab)
            for n in nodes:
                if par[n] != active:
                    continue
                wc: dict = defaultdict(float)
                for nb, w in adj[n]:
                    wc[lab[nb]] += w
                curc = lab[n]
                base = wc.get(curc, 0.0)
                bc, bdq = curc, 0.0
                for c in sorted(wc):
                    if c == curc:
                        continue
                    dq = (wc[c] - base) / m - deg[n] * (
                        tot[c] - (tot[curc] - deg[n])
                    ) / (2 * m * m)
                    if dq > bdq:
                        bc, bdq = c, dq
                if bc != curc:
                    new[n] = bc
            lab = new

    return pd.DataFrame(
        sorted(lab.items()), columns=["node", "label"]
    )


def golden_unigram(
    n_rows: int = 120, iters: int = 3, max_piece_len: int = 6,
    min_freq: int = 2, max_vocab: int = 2000
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Sequential twin of the unigram-LM tokenizer (tokenize.py):
    Counter-based word freqs over the deterministic corpus, an in-place
    reimplementation of seed-vocab/Viterbi/hard-EM, per-doc encodings.
    All arithmetic is integer-exact in float64 (counts and 0.5 floors),
    so the twin and the engine's driver-side trainer agree bit-for-bit.

    Returns (vocab_df[rank,piece,count,logp],
    enc_df[url,n_pieces,tokens_md5])."""
    import hashlib
    import math
    from collections import Counter

    docs = golden_documents(n_rows)
    doc_words: list[tuple[str, list[str]]] = []
    for url, content in zip(docs["url"], docs["content"]):
        ws = [w for w in re.split(r"\s+", content.strip().lower()) if w]
        doc_words.append((url, ws))
    wfreq = Counter(w for _, ws in doc_words for w in ws)
    rows = sorted(wfreq.items())

    # seed: chars + frequent substrings
    sub: Counter = Counter()
    for w, f in rows:
        n = len(w)
        for i in range(n):
            for j in range(i + 1, min(i + max_piece_len, n) + 1):
                sub[w[i:j]] += f
    counts: dict[str, float] = {
        p: float(c) for p, c in sub.items() if len(p) == 1
    }
    for p, c in sorted(
        ((p, c) for p, c in sub.items() if len(p) > 1 and c >= min_freq),
        key=lambda t: (-t[1], t[0]),
    )[:max_vocab]:
        counts[p] = float(c)

    def vit(word: str, logp: dict[str, float]) -> list[str]:
        n = len(word)
        best = [0.0] + [float("-inf")] * n
        back = [0] * (n + 1)
        for end in range(1, n + 1):
            for start in range(max(0, end - max_piece_len), end):
                piece = word[start:end]
                lp = logp.get(piece)
                if lp is None:
                    if end - start == 1:
                        lp = -100.0
                    else:
                        continue
                cand = best[start] + lp
                if cand > best[end]:
                    best[end] = cand
                    back[end] = start
        out = []
        i = n
        while i > 0:
            out.append(word[back[i]:i])
            i = back[i]
        return out[::-1]

    total = float(sum(counts.values()))
    logp = {p: math.log(c / total) for p, c in counts.items()}
    for _ in range(iters):
        nc: dict[str, float] = {}
        for w, f in rows:
            for piece in vit(w, logp):
                nc[piece] = nc.get(piece, 0.0) + f
        for p in counts:
            if len(p) == 1 and nc.get(p, 0.0) <= 0.0:
                nc[p] = 0.5
        counts = {p: c for p, c in nc.items() if c > 0.0}
        total = float(sum(counts.values()))
        logp = {p: math.log(c / total) for p, c in counts.items()}
    ranked = sorted(counts.items(), key=lambda t: (-t[1], t[0]))
    vocab_df = pd.DataFrame(
        [
            {"rank": ix, "piece": p, "count": int(c),
             "logp": round(logp[p], 6)}
            for ix, (p, c) in enumerate(ranked)
        ]
    )
    enc_rows = []
    for url, ws in doc_words:
        toks = " ".join(" ".join(vit(w, logp)) for w in ws)
        enc_rows.append(
            {
                "url": url,
                "n_pieces": len(toks.split(" ")) if toks else 0,
                "tokens_md5": hashlib.md5(toks.encode()).hexdigest(),
            }
        )
    return vocab_df, pd.DataFrame(enc_rows)


def golden_bpe(
    n_rows: int = 120, num_merges: int = 40, min_pair_freq: int = 2
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Sequential twin of operators/tokenize: BPE merge table + per-doc
    encodings over the deterministic corpus — an independent pure-python
    re-derivation (Counter-based pair statistics over the raw word
    stream, per-word greedy encode) used to pin VALUES oracles for the
    tok_bpe_* driver entries.

    Returns (merges_df[rank,left,right,merged,freq],
    enc_df[url,n_tokens,tokens_md5])."""
    from collections import Counter

    docs = golden_documents(n_rows)
    doc_words: list[tuple[str, list[str]]] = []
    for url, content in zip(docs["url"], docs["content"]):
        ws = [w for w in re.split(r"\s+", content.strip().lower()) if w]
        doc_words.append((url, ws))

    # train on the word-frequency statistic (same sufficient statistic
    # the engine collects), with Counter-based pair counting
    wfreq = Counter(w for _, ws in doc_words for w in ws)
    pieces = {w: tuple(list(w) + ["</w>"]) for w in wfreq}
    merge_rows = []
    for rank in range(num_merges):
        pc: Counter = Counter()
        for w, f in wfreq.items():
            seq = pieces[w]
            for pair in zip(seq, seq[1:]):
                pc[pair] += f
        if not pc:
            break
        top = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        (a, b), cnt = top
        if cnt < min_pair_freq:
            break
        merge_rows.append(
            {"rank": rank, "left": a, "right": b, "merged": a + b,
             "freq": int(cnt)}
        )
        nxt = {}
        for w, seq in pieces.items():
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            nxt[w] = tuple(out)
        pieces = nxt
    ranks = {(m["left"], m["right"]): m["rank"] for m in merge_rows}

    def enc(word: str) -> list[str]:
        seq = list(word) + ["</w>"]
        while True:
            cands = [
                (ranks[(x, y)], i)
                for i, (x, y) in enumerate(zip(seq, seq[1:]))
                if (x, y) in ranks
            ]
            if not cands:
                return seq
            r = min(c[0] for c in cands)
            a, b = next(
                m for m in merge_rows if m["rank"] == r
            )["left"], next(m for m in merge_rows if m["rank"] == r)["right"]
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            seq = out

    word_toks = {w: enc(w) for w in wfreq}
    enc_rows = []
    for url, ws in doc_words:
        toks = [t for w in ws for t in word_toks[w]]
        enc_rows.append(
            {
                "url": url,
                "n_tokens": len(toks),
                "tokens_md5": hashlib.md5(
                    " ".join(toks).encode("utf-8")
                ).hexdigest(),
            }
        )
    return pd.DataFrame(merge_rows), pd.DataFrame(enc_rows)


# ---------------------------------------------------------------------------
# cur_pipeline twin — the composed curation funnel, re-derived
# sequentially (plans/curation_pipeline.curate_corpus)
# ---------------------------------------------------------------------------

def _round6(x: float) -> float:
    """Half-up rounding to 6 places on the double's shortest decimal
    repr — the semantics of Spark's F.round (BigDecimal.valueOf +
    HALF_UP), where python's built-in round is half-even."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


#: the fixed page every doc_id % 23 == 0 document becomes — the exact
#: dedup's collapse group
_CUR_FIXED_PAGE = (
    "A fixed duplicate page begins with this line.\n"
    "It continues with another well formed line here.\n"
    "It ends with the third identical sentence now."
)
_CUR_REPEATED_LINE = "A repeated filler sentence appears again and again."


def synth_curation_page(d: int) -> str:
    """Deterministic multi-line synthetic page for doc_id ``d`` —
    exercises every branch of the curation funnel. The Spark entry
    (``cur_pipeline``) builds the identical string with Catalyst
    expressions; keep the two in lockstep."""
    if d % 23 == 0:
        return _CUR_FIXED_PAGE
    lines = [
        f"The quick brown document {d % 7} speaks plainly and ends well."
    ]
    if d % 5 == 0:
        lines.append("tiny.")
    if d % 7 == 0:
        lines.append("no terminal punctuation here at all")
    if d % 11 == 0:
        lines.append("Please enable javascript to continue reading this page.")
    if d % 3 == 0:
        lines += [_CUR_REPEATED_LINE] * 3
    if d % 13 == 0:
        lines.append(f"Write to team{d % 4}@example.org with the report today.")
    if d % 17 == 0:
        lines.append(f"The origin server sits at 192.168.1.{d % 9} for now.")
    if d % 19 == 0:
        lines.append("Call us at +1 555-0100 for more help today.")
    if d % 29 == 0:
        lines.append("Lorem ipsum dolor sit amet consectetur.")
    if d % 31 == 0:
        lines.append("A brace { sneaks into this line somehow.")
    if d % 2 == 0:
        lines.append("Even documents carry one more pleasant line today.")
    lines.append(f"Unique closing sentence number {d % 101} finishes the page.")
    return "\n".join(lines)


def golden_curation(
    n_docs: int,
    min_words: int = 3,
    min_kept_lines: int = 3,
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    min_quality: float = 0.30,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Sequential twin of ``curate_corpus`` over the synthetic pages —
    independent re-derivation of the C4 line filter, duplicate-line
    fractions, quality score, PII redaction and exact dedup. Returns
    (kept rows, one-row funnel stats)."""
    from .operators.textstats import _LANG_MARKERS

    email_re = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    ip_re = re.compile(r"\b(?:\d{1,3}\.){3}\d{1,3}\b")
    phone_re = re.compile(r"\+\d{1,2}[- ]\d{3}[- ]\d{4}")
    terminal_re = re.compile(r'[.!?"]\s*$')
    en_markers = set(_LANG_MARKERS["en"])

    staged = []
    for d in range(n_docs):
        t = synth_curation_page(d)
        lines = t.split("\n")
        kept_lines = [
            ln
            for ln in lines
            if terminal_re.search(ln)
            and len(ln.split()) >= min_words
            and "javascript" not in ln.lower()
            and "{" not in ln
            and "}" not in ln
        ]
        c4_keep = (
            len(kept_lines) >= min_kept_lines
            and "lorem ipsum" not in t.lower()
            and "{" not in t
        )
        c4_text = "\n".join(kept_lines)

        units = c4_text.split("\n")
        n_units = len(units)
        dis = set(units)
        total_chars = sum(len(u) for u in units)
        dis_chars = sum(len(u) for u in dis)
        dup_frac = _round6((n_units - len(dis)) / max(n_units, 1))
        dup_char_frac = _round6(
            (total_chars - dis_chars) / max(total_chars, 1)
        )
        rep_ok = (
            dup_frac <= max_dup_line_frac
            and dup_char_frac <= max_dup_line_char_frac
        )

        nchars = len(c4_text)
        nwords = len(c4_text.split()) if c4_text.strip() else 0
        alpha = len(re.sub(r"[^A-Za-z]", "", c4_text)) / max(nchars, 1)
        punct = len(re.sub(r"[^.,;:!?]", "", c4_text)) / max(nchars, 1)
        words = set(re.split(r"[^a-z]+", c4_text.lower()))
        stop = len(words & en_markers) / 8.0
        if nwords < 5:
            len_score = nwords / 5.0
        elif nwords > 5000:
            len_score = 0.5
        else:
            len_score = 1.0
        score = _round6(
            0.35 * len_score
            + 0.25 * min(alpha * 1.25, 1.0)
            + 0.25 * min(stop, 1.0)
            + 0.15 * (1.0 - min(punct * 5, 1.0))
        )
        quality_ok = score >= min_quality
        keep = c4_keep and rep_ok and quality_ok
        staged.append(
            {
                "doc_id": d,
                "c4_keep": c4_keep,
                "rep_ok": rep_ok,
                "quality_ok": quality_ok,
                "keep": keep,
                "c4_text": c4_text,
                "quality_score": score,
                "n_words": nwords,
                "dup_line_frac": dup_frac,
            }
        )

    survivors = []
    for r in staged:
        if not r["keep"]:
            continue
        t = r["c4_text"]
        n_emails = len(email_re.findall(t))
        step1 = email_re.sub("<EMAIL>", t)
        n_ips = len(ip_re.findall(step1))
        step2 = ip_re.sub("<IP>", step1)
        n_phones = len(phone_re.findall(step2))
        step3 = phone_re.sub("<PHONE>", step2)
        survivors.append(
            {**r, "text": step3, "n_emails": n_emails, "n_ips": n_ips,
             "n_phones": n_phones}
        )

    by_text: dict[str, list[dict]] = {}
    for r in survivors:
        by_text.setdefault(r["text"], []).append(r)
    kept_rows = []
    for group in by_text.values():
        winner = min(group, key=lambda r: r["doc_id"])
        kept_rows.append(
            {
                "doc_id": winner["doc_id"],
                "text_md5": hashlib.md5(
                    winner["text"].encode("utf-8")
                ).hexdigest(),
                "quality_score": winner["quality_score"],
                "n_words": winner["n_words"],
                "dup_line_frac": winner["dup_line_frac"],
                "n_emails": winner["n_emails"],
                "n_ips": winner["n_ips"],
                "n_phones": winner["n_phones"],
                "dup_group_size": len(group),
            }
        )
    kept_rows.sort(key=lambda r: r["doc_id"])

    stats = pd.DataFrame(
        [
            {
                "n_docs": n_docs,
                "n_c4": sum(r["c4_keep"] for r in staged),
                "n_rep": sum(r["c4_keep"] and r["rep_ok"] for r in staged),
                "n_quality": sum(
                    r["c4_keep"] and r["rep_ok"] and r["quality_ok"]
                    for r in staged
                ),
                "n_lang": sum(r["keep"] for r in staged),
                "n_kept": len(kept_rows),
            }
        ]
    )
    return pd.DataFrame(kept_rows), stats


# ---------------------------------------------------------------------------
# g1_pagerank twin — power iteration over the deterministic synthetic
# digraph (operators/centrality.pagerank)
# ---------------------------------------------------------------------------

def synth_digraph_edges(n: int) -> list[tuple[int, int]]:
    """Deterministic directed test graph: node i → (2i+1) mod n and
    (3i+7) mod n, hubs (i ≡ 0 mod 7) also → 0; every i ≡ 0 mod 11 is
    DANGLING (no out-edges); self-loops dropped, duplicates collapsed.
    The Spark entry (``g1_pagerank``) builds the identical edge list
    with Catalyst expressions — keep in lockstep."""
    edges = set()
    for i in range(n):
        if i % 11 == 0:
            continue
        tgts = [(2 * i + 1) % n, (3 * i + 7) % n]
        if i % 7 == 0:
            tgts.append(0)
        for t in tgts:
            if t != i:
                edges.add((i, t))
    return sorted(edges)


def golden_pagerank(
    n: int, damping: float = 0.85, iterations: int = 20
) -> pd.DataFrame:
    """Sequential power iteration with teleport + dangling-mass
    redistribution — independent twin of ``pagerank`` (float64, same
    update rule; summation order differs, rounding to 6 absorbs it)."""
    out: dict[int, list[int]] = {i: [] for i in range(n)}
    for s, t in synth_digraph_edges(n):
        out[s].append(t)
    ranks = [1.0 / n] * n
    for _ in range(iterations):
        dm = sum(ranks[i] for i in range(n) if not out[i])
        contrib = [0.0] * n
        for i in range(n):
            if out[i]:
                share = ranks[i] / len(out[i])
                for t in out[i]:
                    contrib[t] += share
        ranks = [
            (1.0 - damping) / n + damping * (contrib[v] + dm / n)
            for v in range(n)
        ]
    return pd.DataFrame(
        {"node": list(range(n)), "pr": [_round6(r) for r in ranks]}
    )


# ---------------------------------------------------------------------------
# web host graph twins — link-extraction → domain → weighted pagerank
# (operators/webgraph.py), over deterministic synthetic pages
# ---------------------------------------------------------------------------

#: the reference's URL regex (textstats.extract_links) and the domain
#: regex (sampling.url_domain), python-mirrored
_WG_URL_RE = re.compile(r'(https?://[^\s<>"{}|\\^`\[\]]+)')
_WG_TRAIL_RE = re.compile(r"[.;)\],]+$")
_WG_HOST_RE = re.compile(r"^(?:[a-z][a-z0-9+.-]*://)?(?:[^/@]*@)?([^/:?#]+)")


def synth_web_page(d: int) -> tuple[str, str]:
    """Deterministic (page_url, body_text) for doc ``d`` — exercises
    trailing-punctuation stripping, in-page duplicate-URL collapse,
    self-host-link dropping and host lowercasing. The Spark entry
    (``web_host_graph``) builds the identical strings with Catalyst
    expressions; keep in lockstep."""
    url = f"https://Site{d % 13}.example.com/p/{d}"
    lines = [
        f"Read https://site{(2 * d + 1) % 13}.example.com/a/{d % 7}.",
        f"Also http://site{(3 * d + 7) % 13}.example.com/b?q={d % 5},",
    ]
    if d % 3 == 0:
        # bracket ends the URL; the duplicate collapses in-page
        lines.append(
            f"Hub list: https://hub.example.net/l/{d % 4}] and"
            f" https://hub.example.net/l/{d % 4}"
        )
    if d % 4 == 0:
        lines.append(f"Self link https://site{d % 13}.example.com/self")
    if d % 6 == 0:
        lines.append("Mail user@site1.example.com has no scheme.")
    return url, "\n".join(lines)


def _host(u: str) -> str:
    m = _WG_HOST_RE.match(u)
    return m.group(1).lower() if m else ""


def golden_host_edges(n_docs: int) -> dict[tuple[str, str], int]:
    """(src_host, dst_host) → weight, the twin of webgraph.host_graph."""
    edges: dict[tuple[str, str], int] = {}
    for d in range(n_docs):
        url, text = synth_web_page(d)
        src = _host(url)
        urls = [_WG_TRAIL_RE.sub("", u) for u in _WG_URL_RE.findall(text)]
        for u in dict.fromkeys(urls):  # in-page distinct
            dst = _host(u)
            if dst != src:
                edges[(src, dst)] = edges.get((src, dst), 0) + 1
    return edges


def golden_host_cocitation(n_docs: int) -> pd.DataFrame:
    """Twin of webgraph.host_cocitation: per page the DISTINCT cited
    hosts (own host excluded), every a<b pair counted once per page."""
    counts: dict[tuple[str, str], int] = {}
    for d in range(n_docs):
        url, text = synth_web_page(d)
        own = _host(url)
        urls = [_WG_TRAIL_RE.sub("", u) for u in _WG_URL_RE.findall(text)]
        hosts = sorted({_host(u) for u in dict.fromkeys(urls)} - {own})
        for i in range(len(hosts)):
            for j in range(i + 1, len(hosts)):
                key = (hosts[i], hosts[j])
                counts[key] = counts.get(key, 0) + 1
    return pd.DataFrame(
        [
            {"host_a": a, "host_b": b, "weight": w}
            for (a, b), w in sorted(counts.items())
        ]
    )


def golden_host_graph(n_docs: int) -> pd.DataFrame:
    return pd.DataFrame(
        [
            {"src_host": s, "dst_host": t, "weight": w}
            for (s, t), w in sorted(golden_host_edges(n_docs).items())
        ]
    )


def golden_host_pagerank(
    n_docs: int, damping: float = 0.85, iterations: int = 20
) -> pd.DataFrame:
    """Weighted sequential power iteration over the twin host graph."""
    edges = golden_host_edges(n_docs)
    hosts = sorted({s for s, _ in edges} | {t for _, t in edges})
    n = len(hosts)
    out_tot: dict[str, float] = {h: 0.0 for h in hosts}
    for (s, _), w in edges.items():
        out_tot[s] += w
    ranks = {h: 1.0 / n for h in hosts}
    base = (1.0 - damping) / n
    for _ in range(iterations):
        dm = sum(ranks[h] for h in hosts if out_tot[h] == 0.0)
        contrib = {h: 0.0 for h in hosts}
        for (s, t), w in sorted(edges.items()):
            contrib[t] += ranks[s] * w / out_tot[s]
        ranks = {
            h: base + damping * (contrib[h] + dm / n) for h in hosts
        }
    return pd.DataFrame(
        {"host": hosts, "pr": [_round6(ranks[h]) for h in hosts]}
    )


def golden_logistic(
    n_docs: int = 200, iters: int = 6, ridge: float = 1e-3
) -> pd.DataFrame:
    """Sequential IRLS twin of operators/classifier.py over the golden
    corpus features (len/100, tokens/10, digits/10 of the extracted
    content; label = lang=='en'). Mirrors the parity protocol exactly:
    6-dp-rounded sufficient statistics, identical numpy solve, eta
    clamp +/-30, weight floor 1e-12."""
    import re

    import numpy as np

    docs = golden_documents(n_docs)
    rows = []
    for url, lang, content in zip(docs["url"], docs["lang"], docs["content"]):
        toks = [t for t in re.split(r"\s+", content) if t]
        rows.append(
            (
                url,
                1.0 if lang == "en" else 0.0,
                len(content) / 100.0,
                len(toks) / 10.0,
                len(re.sub(r"[^0-9]", "", content)) / 10.0,
            )
        )
    urls = [r[0] for r in rows]
    y = np.array([r[1] for r in rows])
    X = np.column_stack(
        [np.ones(len(rows))] + [np.array([r[i] for r in rows]) for i in (2, 3, 4)]
    )
    k1 = X.shape[1]
    beta = np.zeros(k1)
    for _ in range(iters):
        eta = np.clip(X @ beta, -30.0, 30.0)
        mu = 1.0 / (1.0 + np.exp(-eta))
        w = np.maximum(mu * (1.0 - mu), 1e-12)
        z = eta + (y - mu) / w
        A = np.zeros((k1, k1))
        b = np.zeros(k1)
        for i in range(k1):
            for j in range(i, k1):
                A[i, j] = A[j, i] = _round6(float((w * X[:, i] * X[:, j]).sum()))
            b[i] = _round6(float((w * X[:, i] * z).sum()))
        A += ridge * np.eye(k1)
        beta = np.linalg.solve(A, b)
    eta = np.clip(X @ beta, -30.0, 30.0)
    # HALF_UP like Spark F.round (np.round is binary half-even)
    prob = [_round6(float(v)) for v in 1.0 / (1.0 + np.exp(-eta))]
    return pd.DataFrame({"url": urls, "label": y, "prob": prob})


def golden_host_hits(n_docs: int, iterations: int = 20) -> pd.DataFrame:
    """Sequential HITS twin over the twin host graph (L2-renormalized
    hub/authority per iteration, the operators/hits.py update rule)."""
    edges = golden_host_edges(n_docs)
    hosts = sorted({s for s, _ in edges} | {t for _, t in edges})
    hub = {h: 1.0 for h in hosts}
    auth = {h: 1.0 for h in hosts}
    for _ in range(iterations):
        a_raw = {h: 0.0 for h in hosts}
        for (s, t), w in sorted(edges.items()):
            a_raw[t] += hub[s] * w
        na = sum(v * v for v in a_raw.values()) ** 0.5
        auth = {h: (a_raw[h] / na if na > 0 else 0.0) for h in hosts}
        h_raw = {h: 0.0 for h in hosts}
        for (s, t), w in sorted(edges.items()):
            h_raw[s] += auth[t] * w
        nh = sum(v * v for v in h_raw.values()) ** 0.5
        hub = {h: (h_raw[h] / nh if nh > 0 else 0.0) for h in hosts}
    df = pd.DataFrame(
        {
            "host": hosts,
            "hub": [_round6(hub[h]) for h in hosts],
            "authority": [_round6(auth[h]) for h in hosts],
        }
    )
    return df
