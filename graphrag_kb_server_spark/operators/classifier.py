"""Distributed logistic-regression quality classifier (IRLS over
sufficient statistics).

The fastText-style "quality classifier" every big curation pipeline
trains (GPT-3's WebText-vs-CommonCrawl filter, CCNet's, FineWeb-edu's):
a small linear model over cheap document features, trained on the full
corpus, scored on the full corpus. The reference has no trainable
surface; this extends the textstats quality family with the TRAINING
half.

Spark-first architecture — iteratively reweighted least squares where
each Newton step is ONE aggregation:

- the model x·β is tiny (k+1 coefficients, plan literals); per row the
  executor computes μ, the IRLS weight w = μ(1−μ), and the working
  response z — all codegen'd column expressions;
- the sufficient statistics XᵀWX ((k+1)(k+2)/2 symmetric entries) and
  XᵀWz (k+1 entries) are static agg columns: ONE map-side-combined
  aggregation per iteration reduces the whole corpus to a handful of
  doubles, and the driver solves the (k+1)×(k+1) system. The data
  never moves; the model round-trips. (The same sufficient-statistic
  decomposition BPE training uses — golden.py / tokenize.py.)

Engine parity protocol: the sufficient statistics are ROUNDED TO 6 dp
before the solve — a ~1e-12 relative summation-order difference cannot
survive the rounding, so both engines solve the IDENTICAL system with
the identical routine and the β trajectory matches bit-for-bit. η is
clamped to ±30 and w floored at 1e-12 (the standard IRLS guards);
ridge regularization bounds β under perfect separation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ETA_CLAMP = 30.0
_W_FLOOR = 1e-12
#: IRLS iterations of logistic_train, and its ridge term
ITERS = 6
RIDGE = 1e-3


def _eta(beta: list[float], feats: list[F.Column]) -> F.Column:
    e = F.lit(float(beta[0]))
    for b, x in zip(beta[1:], feats):
        e = e + F.lit(float(b)) * x
    return F.least(F.greatest(e, F.lit(-_ETA_CLAMP)), F.lit(_ETA_CLAMP))


def logistic_train(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
) -> list[float]:
    """IRLS fit; returns [intercept, coef_1, ..., coef_k]."""
    import numpy as np

    k = len(feature_cols)
    src = df.select(
        F.col(label_col).cast("double").alias("_y"),
        *[F.col(c).cast("double").alias(f"_f{i}")
          for i, c in enumerate(feature_cols)],
    ).localCheckpoint(eager=False)
    feats = [F.col(f"_f{i}") for i in range(k)]

    beta = [0.0] * (k + 1)
    for _ in range(ITERS):
        eta = _eta(beta, feats)
        mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
        w = F.greatest(mu * (F.lit(1.0) - mu), F.lit(_W_FLOOR))
        z = eta + (F.col("_y") - mu) / w
        xs = [F.lit(1.0)] + feats
        aggs = []
        for i in range(k + 1):
            for j in range(i, k + 1):
                aggs.append(
                    F.round(F.sum(w * xs[i] * xs[j]), 6).alias(f"a_{i}_{j}")
                )
        for i in range(k + 1):
            aggs.append(F.round(F.sum(w * xs[i] * z), 6).alias(f"b_{i}"))
        row = src.agg(*aggs).collect()[0]

        A = np.zeros((k + 1, k + 1))
        for i in range(k + 1):
            for j in range(i, k + 1):
                A[i, j] = A[j, i] = row[f"a_{i}_{j}"]
        b = np.array([row[f"b_{i}"] for i in range(k + 1)])
        A += RIDGE * np.eye(k + 1)
        beta = [float(v) for v in np.linalg.solve(A, b)]
    return beta


def logistic_predict(
    df: DataFrame,
    feature_cols: list[str],
    beta: list[float],
) -> DataFrame:
    """Adds the predicted probability ``prob`` (6-dp rounded) — a row-local
    codegen'd expression, the cheap corpus-wide scoring pass."""
    feats = [F.col(c).cast("double") for c in feature_cols]
    eta = _eta(beta, feats)
    return df.withColumn(
        "prob",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-eta)), 6),
    )
