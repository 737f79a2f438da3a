"""Lloyd's k-means + SemDeDup pairs (operators/clustering.py):
numpy-twin parity of the rounding protocol, partitioning determinism,
cluster quality on the labeled embeddings table, and brute-force pair
equivalence."""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import functions as F

from graphrag_kb_server_spark.operators.clustering import (
    SEED,
    kmeans,
    semantic_dedup_pairs,
)


def _points(spark, n=200, d=8, seed=3):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(4, d)) * 4
    rows = []
    for i in range(n):
        c = i % 4
        v = centers[c] + rng.normal(size=d)
        rows.append((i, [float(np.float32(x)) for x in v]))
    return spark.createDataFrame(rows, "pid long, vec array<float>"), rows


def _numpy_kmeans(rows, k, iters):
    """Independent sequential twin of the exact protocol: hash init,
    6-dp rounded centroids and distances, cluster-id tie-break."""
    def h(pid):
        payload = f"{pid}\x1fkmeans\x1f{SEED}".encode()
        return int(hashlib.md5(payload).hexdigest()[:8], 16)

    ids = [r[0] for r in rows]
    X = np.array([np.asarray(r[1], dtype=np.float32).astype(np.float64)
                  for r in rows])
    order = sorted(range(len(ids)), key=lambda i: (h(ids[i]), ids[i]))
    C = [np.round(X[i], 6) for i in order[:k]]
    assign = None
    for _ in range(iters):
        assign = {}
        for i, pid in enumerate(ids):
            best = min(
                (round(float(((X[i] - C[j]) ** 2).sum()), 6), j)
                for j in range(k)
            )
            assign[pid] = best[1]
        newC = list(C)
        for j in range(k):
            members = [i for i, pid in enumerate(ids) if assign[pid] == j]
            if members:
                newC[j] = np.round(X[members].mean(axis=0), 6)
        C = newC
    return assign


def test_kmeans_matches_numpy_twin(spark):
    df, rows = _points(spark)
    out, _ = kmeans(df, "pid", "vec", k=4, iters=3)
    got = {r.pid: r.cluster for r in out.collect()}
    want = _numpy_kmeans(rows, k=4, iters=3)
    assert got == want


def test_kmeans_deterministic_across_partitionings(spark):
    df, _ = _points(spark, n=120)
    a, ca = kmeans(df.repartition(1), "pid", "vec", k=4, iters=2)
    b, cb = kmeans(df.repartition(11), "pid", "vec", k=4, iters=2)
    assert {(r.pid, r.cluster) for r in a.collect()} == \
        {(r.pid, r.cluster) for r in b.collect()}
    assert ca == cb


def test_kmeans_improves_objective_on_testdata(spark):
    """On the driver testdata embeddings (labels are nearly isotropic —
    within-label cosine ≈ 0.02 — so purity is not a meaningful target):
    Lloyd's must strictly reduce the within-cluster SSE vs the
    1-iteration assignment, and keep every cluster populated."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    one, _ = kmeans(emb, "vec_id", "embedding", k=10, iters=1)
    four, cents = kmeans(emb, "vec_id", "embedding", k=10, iters=4)
    sse1 = one.agg(F.sum("dist")).collect()[0][0]
    sse4 = four.agg(F.sum("dist")).collect()[0][0]
    assert sse4 < sse1
    assert four.select("cluster").distinct().count() == 10
    assert len(cents) == 10


def test_semantic_dedup_pairs_brute_force(spark):
    df, rows = _points(spark, n=80)
    out = semantic_dedup_pairs(df, "pid", "vec", k=4, iters=2, threshold=0.9)
    got = {(r.a, r.b): r.cos for r in out.collect()}

    assign = _numpy_kmeans(rows, k=4, iters=2)
    X = {r[0]: np.asarray(r[1], dtype=np.float32).astype(np.float64)
         for r in rows}
    want = {}
    for a in X:
        for b in X:
            if a < b and assign[a] == assign[b]:
                # same sequential-fold order as the Spark side
                dot = 0.0
                for x, y in zip(X[a], X[b]):
                    dot += x * y
                na = 0.0
                for x in X[a]:
                    na += x * x
                nb = 0.0
                for x in X[b]:
                    nb += x * x
                c = round(dot / (na ** 0.5 * nb ** 0.5), 6)
                if c >= 0.9:
                    want[(a, b)] = c
    assert want and got == want
