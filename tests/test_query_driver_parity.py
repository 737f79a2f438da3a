"""kg_query runs its stages 2-4 on the driver. Each driver list op is
pinned here to the Spark operator it mirrors: seeded random inputs go
through both, and the outputs must be equal (ties, duplicate keys,
empty inputs, null fields, non-ASCII and control characters included).
Stage 1 on a KB's driver snapshot is pinned to the distributed stage 1
the same way: whole requests through both paths must give equal
contexts.
"""

from __future__ import annotations

import logging
import random
from datetime import datetime, timedelta
from itertools import accumulate

import numpy as np
import pytest
from pyspark.sql import functions as F

from graphrag_kb_server_spark import GRAPH_FIELD_SEP
from graphrag_kb_server_spark.functions.embedding import EMBEDDING_DIM, embed_text
from graphrag_kb_server_spark.operators.context_ops import (
    RELATED_CHUNK_NUMBER,
    expand_file_references,
    expand_reference_rows,
    query_scores,
    reference_list,
    reference_rows,
    vector_pick_ids,
    vector_similarity_chunk_pick,
)
from graphrag_kb_server_spark.operators.merge import (
    rank_branch,
    round_robin_merge,
    round_robin_rows,
)
from graphrag_kb_server_spark.operators.polling import (
    gradient_quota_map,
    gradient_quotas,
    weighted_polling_pick,
    weighted_polling_rows,
)
from graphrag_kb_server_spark.operators.truncation import (
    token_budget_prefix,
    truncate_by_token_budget,
)
from graphrag_kb_server_spark.operators.vector_topk import (
    cosine_topk,
    cosine_topk_rows,
)
from graphrag_kb_server_spark.plans import query_pipeline as qp
from graphrag_kb_server_spark.plans.query_pipeline import (
    GraphTables,
    QueryParams,
    gather_chunk_rows,
    gather_chunks_from_members,
    kg_query,
)
from graphrag_kb_server_spark.tokenizer import count_tokens

SEEDS = [0, 1, 2, 3]

# names that sort differently by bytes, code points or case would show
# a tie-order mismatch between Spark and Python
NAMES = ["alpha", "Alpha", "Émile", "zeta", "東京", "a\x01b", "Ångström",
         "beta", "b", "ß", "ǅ", "tab\there", "x" * 3, "Zoë"]
TEXTS = ["word " * 4, "Ünïcödé ω≈ç √∫ 漢字かな", "ctrl\x00\x07\x1b[0m\r\n",
         "emoji 🙂🙃 mix", "", None, "a,b;c: d", "\"quoted\" \\ back",
         "tabs\t\tand  spaces", "12345 67.89"]


def _rng(seed: int) -> random.Random:
    return random.Random(1000 + seed)


@pytest.mark.parametrize("seed", SEEDS)
def test_round_robin_merge_parity(spark, seed):
    rng = _rng(seed)
    branches = []
    for _ in range(rng.randint(1, 3)):
        names = rng.sample(NAMES, rng.randint(0, 8))
        # few distinct scores: many ties, broken by name
        branches.append([(n, rng.choice([0.1, 0.2, 0.5])) for n in names])
    spark_branches = [
        rank_branch(
            spark.createDataFrame(rows, "name string, vscore double"),
            [F.desc("vscore"), "name"], b,
        )
        for b, rows in enumerate(branches)
    ]
    got = [
        (r["merge_ix"], r["name"], r["vscore"])
        for r in round_robin_merge(spark_branches, ["name"])
        .orderBy("merge_ix").collect()
    ]
    want = [
        (r["merge_ix"], r["name"], r["vscore"])
        for r in round_robin_rows(
            [sorted(({"name": n, "vscore": s} for n, s in rows),
                    key=lambda r: (-r["vscore"], r["name"]))
             for rows in branches],
            ["name"],
        )
    ]
    assert got == want


@pytest.mark.parametrize("seed", SEEDS)
def test_truncate_by_token_budget_parity(spark, seed):
    rng = _rng(seed)
    rows = [(i, rng.choice(TEXTS)) for i in range(rng.randint(1, 12))]
    df = spark.createDataFrame(rows, "pos int, txt string")
    cums = list(accumulate(count_tokens(t or "") for _, t in rows))
    # budgets from "the first row alone overflows" to "everything fits",
    # plus a budget hit exactly by a prefix (that prefix is kept)
    for budget in (0, 2, rng.choice(cums), rng.choice(cums) - 1, 10_000):
        got = [r["pos"] for r in truncate_by_token_budget(df, "txt", "pos", budget)
               .orderBy("pos").collect()]
        want = [r["pos"] for r in token_budget_prefix(
            [{"pos": p, "txt": t} for p, t in rows], "txt", budget)]
        assert got == want, budget


def test_truncate_first_row_overflow_gives_empty_prefix():
    rows = [{"txt": "many words in the first row"}, {"txt": "x"}]
    assert token_budget_prefix(rows, "txt", 3) == []


@pytest.mark.parametrize("seed", SEEDS)
def test_serialized_row_token_parity(spark, seed):
    """kg_query counts tokens on the F.to_json payload stage 1 collects;
    to_json omits null fields. The driver count over the collected
    strings keeps the same prefix as Spark's token-count UDF."""
    rng = _rng(seed)
    rows = [
        (i, rng.choice(NAMES), rng.choice(["org", None, "人物"]), rng.choice(TEXTS))
        for i in range(rng.randint(2, 10))
    ]
    df = spark.createDataFrame(
        rows, "merge_ix int, name string, type string, description string"
    ).withColumn("_ser", F.to_json(F.struct(
        F.col("name").alias("entity"), "type", "description")))
    collected = [r.asDict() for r in df.orderBy("merge_ix").collect()]
    for r in collected:
        assert ('"type"' in r["_ser"]) == (r["type"] is not None)
        assert ('"description"' in r["_ser"]) == (r["description"] is not None)
    for budget in (5, 20, 60):
        got = [r["merge_ix"] for r in truncate_by_token_budget(
            df, "_ser", "merge_ix", budget).orderBy("merge_ix").collect()]
        want = [r["merge_ix"] for r in token_budget_prefix(collected, "_ser", budget)]
        assert got == want, budget


def _members(rng: random.Random) -> list[dict]:
    pool = [f"c{i:02d}" for i in range(12)] + ["ç-块"]
    return [
        {"name": n, "merge_ix": ix,
         "source_chunk_ids": (None if rng.random() < 0.1
                              else [rng.choice(pool) for _ in range(rng.randint(0, 5))])}
        for ix, n in enumerate(rng.sample(NAMES, rng.randint(0, 8)))
    ]


_MEMBER_SCHEMA = "name string, merge_ix int, source_chunk_ids array<string>"


@pytest.mark.parametrize("seed", SEEDS)
def test_gather_chunks_from_members_parity(spark, seed):
    members = _members(_rng(seed))
    df = spark.createDataFrame(
        [(m["name"], m["merge_ix"], m["source_chunk_ids"]) for m in members],
        _MEMBER_SCHEMA,
    )
    got = sorted(
        (r["member"], r["merge_ix"], r["chunk_id"], r["occurrence"])
        for r in gather_chunks_from_members(df, "name").collect()
    )
    want = sorted(
        (r["member"], r["merge_ix"], r["chunk_id"], r["occurrence"])
        for r in gather_chunk_rows(members, "name")
    )
    assert got == want


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("n_entities", [0, 1, 7])
def test_gradient_polling_parity(spark, seed, n_entities):
    rng = _rng(seed)
    per_entity = rng.randint(1, 4)
    names = rng.sample(NAMES, n_entities)
    ranks = {n: i for i, n in enumerate(names)}
    chunks = [
        {"name": n, "chunk_id": f"{n}/{j}", "occurrence": rng.randint(1, 3)}
        for n in names + ["not-an-entity"]
        for j in range(rng.randint(0, 6))
    ]
    ents = spark.createDataFrame(list(ranks.items()), "name string, rank int")
    quotas = gradient_quotas(ents, "rank", per_entity)
    assert {r["name"]: r["quota"] for r in quotas.collect()} == \
        gradient_quota_map(ranks, per_entity)
    chunk_df = spark.createDataFrame(
        [(c["name"], c["chunk_id"], c["occurrence"]) for c in chunks],
        "name string, chunk_id string, occurrence int",
    )
    got = sorted((r["name"], r["chunk_id"])
                 for r in weighted_polling_pick(chunk_df, quotas, "name").collect())
    want = sorted((r["name"], r["chunk_id"]) for r in weighted_polling_rows(
        chunks, gradient_quota_map(ranks, per_entity), "name"))
    assert got == want


@pytest.mark.parametrize("seed", SEEDS)
def test_reference_list_expand_parity(spark, seed):
    rng = _rng(seed)
    paths = ["a.txt", "b.txt", "ü/ñ.md", "c.txt"]
    sep_paths = [f"a.txt{GRAPH_FIELD_SEP}c.txt", f"d.txt{GRAPH_FIELD_SEP}a.txt",
                 f"e.txt{GRAPH_FIELD_SEP}e.txt", f"f.txt{GRAPH_FIELD_SEP}"]
    file_paths = [rng.choice(paths + sep_paths + [None])
                  for _ in range(rng.randint(1, 10))]
    chunks = spark.createDataFrame(
        list(enumerate(file_paths)), "merge_ix int, file_path string"
    )
    refs = reference_list(chunks)
    got = sorted(((r["ref_ix"], r["file_path"]) for r in refs.collect()),
                 key=lambda t: t[0])
    want_refs = reference_rows(file_paths)
    assert got == [(r["ref_ix"], r["file_path"]) for r in want_refs]
    got_exp = sorted((r["ref_ix"], r["file_path"])
                     for r in expand_file_references(refs).collect())
    want_exp = [(r["ref_ix"], r["file_path"]) for r in expand_reference_rows(want_refs)]
    assert got_exp == sorted(want_exp)
    # the driver list is in ref_ix order, each path in split order
    assert [ix for ix, _ in want_exp] == sorted(ix for ix, _ in want_exp)


@pytest.mark.parametrize("seed", SEEDS)
def test_vector_pick_parity(spark, seed):
    rng = _rng(seed)
    vecs = [[float(x) for x in embed_text(t)]
            for t in ("alpha", "alpha beta gamma", "delta", "beta")]
    vecs.append([0.0] * len(vecs[0]))
    # repeated vectors give equal scores: ties broken by chunk_id; 20
    # candidates stay above the largest pick (5 * 4 / 2 = 10)
    emb = [(f"k{i:02d}", rng.choice(vecs)) for i in range(30)]
    emb_df = spark.createDataFrame(emb, "chunk_id string, embedding array<float>")
    cands = rng.sample([cid for cid, _ in emb] + ["no-embedding"], 20)
    cand_df = spark.createDataFrame([(c,) for c in cands], "chunk_id string")
    n_entities = rng.randint(1, 4)
    got = {r["chunk_id"] for r in vector_similarity_chunk_pick(
        cand_df, emb_df, "alpha beta", n_entities).collect()}
    scores = {r["chunk_id"]: r["vscore"] for r in query_scores(
        emb_df.where(F.col("chunk_id").isin(cands)), "alpha beta").collect()}
    want = vector_pick_ids(scores, n_entities, RELATED_CHUNK_NUMBER)
    assert len(want) < len(scores)
    assert got == want


@pytest.mark.parametrize("seed", SEEDS)
def test_cosine_topk_rows_parity(spark, seed):
    """The numpy twin gives cosine_topk's rows and bit-identical scores."""
    rng = np.random.default_rng(seed)
    dim = int(rng.integers(1, 24))
    base = rng.standard_normal((6, dim)).astype(np.float32)
    base[0] = 0.0  # zero vector: score 0.0
    # repeated rows give exactly tied scores, broken by id
    mat = base[rng.integers(0, len(base), 40)]
    ids = [f"r{i:02d}" for i in range(len(mat))]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(ids, mat)],
        "id string, embedding array<float>",
    )
    query = rng.standard_normal(dim).astype(np.float32)
    for k in (0, 1, 7, 40, 50):
        got = [(r["id"], r["score"]) for r in cosine_topk(df, query, k).collect()]
        want = [(ids[i], s) for i, s in
                cosine_topk_rows(mat.astype(np.float64), query, k, ids)]
        assert got == want, k


def _vec(text: str) -> list[float]:
    return [float(x) for x in embed_text(text)]


def _unusable(kind: str, vec: list[float]) -> list | None:
    """``vec`` made into an embedding that is not a finite vector of the
    query's length."""
    return {"nan": [float("nan")] + vec[1:], "inf": vec[:-1] + [float("inf")],
            "short": vec[:-1], "long": vec + [0.0], "empty": [],
            "null": None, "null_element": [None] + vec[1:]}[kind]


_KINDS = ("nan", "inf", "short", "long", "empty", "null", "null_element")


def test_cosine_topk_skips_unusable_rows(spark):
    """cosine_topk gives the top k of the usable rows, and the driver
    matrix keeps exactly those rows: every unusable kind is dropped,
    zero-norm ones (which a bare cosine scores 0.0) included."""
    good = [(f"g{i}", _vec(t)) for i, t in enumerate(("alpha", "beta", "delta"))]
    bad = [(f"x-{kind}-{j}", _unusable(kind, base)) for kind in _KINDS
           for j, base in enumerate((_vec("alpha beta"), [0.0] * EMBEDDING_DIM))]
    schema = "id string, embedding array<float>"
    df = spark.createDataFrame(good + bad, schema)
    clean = spark.createDataFrame(good, schema)
    vectors = qp._vectors([r.asDict() for r in df.collect()], ("id",), "id")
    assert vectors.keys == [i for i, _ in good]
    qvec = _vec("alpha beta")
    for k in (1, 2, len(good) + len(bad)):
        got = [(r["id"], r["score"]) for r in cosine_topk(df, qvec, k).collect()]
        assert got == [(r["id"], r["score"])
                       for r in cosine_topk(clean, qvec, k).collect()], k
        assert got == vectors.topk(qvec, k), k


def _random_graph(spark, seed: int, query: str, unusable: bool = False) -> GraphTables:
    """A seeded random KB with null type/description/file_path/
    last_modified and dangling embedding rows (no matching node, edge
    or chunk) that score as high as the query itself, so the top-k cut
    before the join decides what survives. ``unusable`` adds, to each
    embedding table, one row per kind of unusable embedding on a random
    real key."""
    rng = _rng(seed)
    qvec = _vec(" ".join(qp.extract_keywords(query)))
    names = rng.sample(NAMES, 10) + [f"n{i}" for i in range(6)]
    chunk_ids = [f"c{i:02d}" for i in range(14)]
    paths = ["a.txt", "b.txt", "ü/ñ.md", f"a.txt{GRAPH_FIELD_SEP}c.txt",
             f"d.txt{GRAPH_FIELD_SEP}a.txt", None]
    t0 = datetime(2024, 1, 1, 12, 30)
    nodes = [(n, rng.choice(["org", None, "人物"]), rng.choice(TEXTS),
              rng.randint(0, 5), rng.sample(chunk_ids, rng.randint(0, 4)))
             for n in names]
    pairs = sorted({tuple(sorted(rng.sample(names, 2))) for _ in range(24)})
    edges = [(a, b, "kw", rng.choice(TEXTS), rng.choice([0.5, 1.0, 2.0]),
              rng.randint(0, 9), rng.sample(chunk_ids, rng.randint(0, 3)))
             for a, b in pairs]
    chunks = [(c, rng.choice(TEXTS) or "", rng.choice(paths)) for c in chunk_ids]
    props = [(p, rng.choice([t0 + timedelta(days=i), None]))
             for i, p in enumerate(["a.txt", "b.txt", "c.txt", "d.txt"])]
    pool = [_vec(t) for t in ("alpha", "beta gamma", "delta", "Émile zeta")]

    def emb():  # few distinct vectors: many exact score ties
        return rng.choice(pool + [qvec])

    dangling = ["ghost", "幽霊"]
    ent_emb = [(n, emb()) for n in names] + [(n, qvec) for n in dangling]
    rel_emb = [(a, b, emb()) for a, b, *_ in edges] + [
        ("ghost", names[0], qvec), (names[0], "ghost", qvec)]
    chunk_emb = [(c, emb()) for c in chunk_ids] + [("c-missing", qvec)]
    if unusable:
        for kind in _KINDS:
            bad = _unusable(kind, qvec)
            ent_emb.append((rng.choice(names), bad))
            rel_emb.append((*rng.choice(edges)[:2], bad))
            chunk_emb.append((rng.choice(chunk_ids), bad))
    return GraphTables(
        nodes=spark.createDataFrame(
            nodes, "name string, type string, description string, "
            "degree int, source_chunk_ids array<string>"),
        edges=spark.createDataFrame(
            edges, "src string, tgt string, keywords string, description "
            "string, weight double, combined_degree bigint, "
            "source_chunk_ids array<string>"),
        chunks=spark.createDataFrame(
            chunks, "chunk_id string, content string, file_path string"),
        entity_embeddings=spark.createDataFrame(
            ent_emb, "name string, embedding array<float>"),
        relation_embeddings=spark.createDataFrame(
            rel_emb, "src string, tgt string, embedding array<float>"),
        chunk_embeddings=spark.createDataFrame(
            chunk_emb, "chunk_id string, embedding array<float>"),
        path_properties=spark.createDataFrame(
            props, "file_path string, last_modified timestamp"),
    )


_FIELDS = ("nodes", "edges", "chunks", "entity_embeddings",
           "relation_embeddings", "chunk_embeddings", "path_properties")


def _served(spark, g, query, combos):
    out = []
    for params in combos:
        ctx = kg_query(spark, g, query, params)
        out.append((ctx.context_str(), ctx.processing_info, ctx.references,
                    ctx.chunks, ctx.entities, ctx.relations))
    return out


_TIGHT = dict(top_k=4, max_entity_tokens=30, max_relation_tokens=40,
              max_total_tokens=1100, related_chunk_number=1)
_LOOSE = dict(top_k=20, max_entity_tokens=4000, max_relation_tokens=4000,
              max_total_tokens=20000, related_chunk_number=3)
_COMBOS = [
    QueryParams(mode=mode, chunk_pick=pick, **budget)
    for mode in ("local", "global", "hybrid", "mix")
    for pick, budget in (("weighted_polling", _TIGHT), ("weighted_polling", _LOOSE),
                         ("vector", _TIGHT))
]


@pytest.mark.parametrize("graph", ["sep_mini", 0, 1, "unusable_2"])
def test_snapshot_matches_distributed_stage1(spark, monkeypatch, graph):
    """Whole requests on the driver snapshot equal the distributed
    stage 1 (snapshot cap forced to 0): every mode, both chunk picks,
    tight and loose token budgets."""
    if graph == "sep_mini":
        from test_query_ops import _mini_graph

        query, frames = "Alpha", _mini_graph(spark)
    else:
        query = "What links Alpha and Émile to the 東京 office?"
        frames = (_random_graph(spark, 2, query, unusable=True)
                  if graph == "unusable_2" else _random_graph(spark, graph, query))

    # checkpointed once: each of the 24 requests then scans the block
    # manager instead of re-running Python workers over the local rows
    # (about 5x faster on the forced-distributed requests)
    frames = {f: None if getattr(frames, f) is None
              else getattr(frames, f).localCheckpoint(eager=True) for f in _FIELDS}

    def fresh() -> GraphTables:
        return GraphTables(**frames)

    g = fresh()
    assert g.snapshot(spark) is not None
    driver = _served(spark, g, query, _COMBOS)
    monkeypatch.setattr(qp, "SNAPSHOT_CAP", 0)
    g = fresh()
    assert g.snapshot(spark) is None
    distributed = _served(spark, g, query, _COMBOS)
    for params, a, b in zip(_COMBOS, driver, distributed):
        assert a == b, params
    # the random graphs reach the cases the test is for
    if graph != "sep_mini":
        assert any(r["last_modified"] for _, _, refs, *_ in driver for r in refs)
        assert any(len(chunks) > 1 for _, _, _, chunks, *_ in driver)


def _snapshot_decision(spark, caplog, g):
    """``g``'s snapshot and the one gate record its build logged."""
    caplog.clear()
    with caplog.at_level(logging.INFO,
                         logger="graphrag_kb_server_spark.operators.graph_support"):
        snap = g.snapshot(spark)
    (rec,) = [r.args for r in caplog.records
              if isinstance(r.args, dict) and r.args.get("op") == "kg_snapshot"]
    return snap, rec


def test_snapshot_gate_boundary(spark, monkeypatch, caplog):
    """The snapshot takes the driver path at cap == the KB's total rows
    and the distributed path one row below, as collect_if_small logs."""
    from test_query_ops import _mini_graph

    g = _mini_graph(spark)
    total = sum(df.count() for df in (
        g.nodes, g.edges, g.chunks, g.entity_embeddings,
        g.relation_embeddings, g.chunk_embeddings))

    def decision(cap):
        monkeypatch.setattr(qp, "SNAPSHOT_CAP", cap)
        g = _mini_graph(spark)
        snap, rec = _snapshot_decision(spark, caplog, g)
        return g, snap, rec

    _, snap, rec = decision(total)
    assert snap is not None
    assert rec == {"op": "kg_snapshot", "probed_rows": total, "cap": total,
                   "path": "driver"}
    g, snap, rec = decision(total - 1)
    assert snap is None
    assert rec == {"op": "kg_snapshot", "probed_rows": total,
                   "cap": total - 1, "path": "distributed"}
    # the decision is cached: no second probe for the same frames
    caplog.clear()
    with caplog.at_level(logging.INFO):
        assert g.snapshot(spark) is None
    assert not [r for r in caplog.records
                if isinstance(r.args, dict) and r.args.get("op") == "kg_snapshot"]


@pytest.mark.parametrize("bad", ["nan", "inf", "short", "null", "null_element"])
def test_unusable_embeddings_answer_alike(spark, monkeypatch, caplog, bad):
    """A KB with an unusable embedding row in each embedding table, each
    on a real key, is served from the snapshot, and the snapshot, the
    distributed stage 1 and the same KB without those rows answer
    alike: such a row is not a candidate on either path."""
    from test_query_ops import _mini_graph

    # checkpointed once, as in test_snapshot_matches_distributed_stage1:
    # the forced-distributed requests then scan the block manager
    # instead of re-running Python workers over the local rows
    mini = _mini_graph(spark)
    frames = {f: None if getattr(mini, f) is None
              else getattr(mini, f).localCheckpoint(eager=True) for f in _FIELDS}
    clean = GraphTables(**frames)
    emb = _unusable(bad, _vec("Beta"))
    extra = {"entity_embeddings": [("Beta", emb)],
             "relation_embeddings": [("Alpha", "Beta", emb)],
             "chunk_embeddings": [("c1", emb)]}
    bad_frames = dict(frames)
    for f, rows in extra.items():
        bad_frames[f] = frames[f].union(
            spark.createDataFrame(rows, frames[f].schema)
        ).localCheckpoint(eager=True)

    def with_bad_rows() -> GraphTables:
        return GraphTables(**bad_frames)

    # top_k=1: a bad row ranked first would displace the real one
    combos = [QueryParams(mode=m, top_k=1)
              for m in ("local", "global", "hybrid", "mix")]
    combos.append(QueryParams(mode="hybrid", top_k=1, chunk_pick="vector"))
    with caplog.at_level(logging.WARNING, logger=qp.__name__):
        g = with_bad_rows()
        snap, rec = _snapshot_decision(spark, caplog, g)
        assert snap is not None and rec["path"] == "driver", rec
        driver = _served(spark, g, "Alpha", combos)
        want = _served(spark, clean, "Alpha", combos)
        monkeypatch.setattr(qp, "SNAPSHOT_CAP", 0)
        g = with_bad_rows()
        assert g.snapshot(spark) is None
        distributed = _served(spark, g, "Alpha", combos)
    for params, a, b, c in zip(combos, driver, distributed, want):
        assert a == b == c, params
    assert not [r for r in caplog.records if "chunk pick failed" in r.getMessage()]
