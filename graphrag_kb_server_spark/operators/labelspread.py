"""Semi-supervised label spreading over a similarity graph.

Zhou et al. 2004 ("Learning with Local and Global Consistency"), the
graph-diffusion classifier: a few labeled points spread their labels
along kNN edges until every reachable node carries a soft
distribution — how a curation pipeline turns 1 % hand-labeled quality
judgments into corpus-wide labels without training a model.

Spark-first shape — scores live in LONG format (node, label, score),
so the class count never becomes a column count:

- one normalization pass: symmetrized edges, weight / out-strength
  (random-walk normalization — a join against the per-source strength
  aggregate);
- per iteration: contributions = scores ⋈ edges on the source, summed
  per (dst, label) — ONE key-partitioned aggregation — then combined
  with the seed mass as a UNION + second aggregation (no outer join):
  ``score' = α·Σ wnorm·score + (1−α)·seed``. Scores round to 9 dp per
  iteration so both engines' summation-order ULPs die before they can
  compound; lazy per-round checkpoints keep the plan linear.
- readout: argmax label per node, ties to the larger label (the
  max-struct order), seeds and unreachable nodes included via the
  final left join.

State is O(nodes × labels-present-nearby), not O(nodes × classes):
labels only exist where diffusion has reached.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def label_spread(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 4,
    alpha: float = 0.8,
) -> DataFrame:
    """Unweighted edges(src, tgt) and seeds(node, label) → (node,
    pred_label, score) for every edge endpoint; pred_label NULL where
    no labeled mass ever arrives."""
    e = edges.select(
        F.col("src").alias("s"), F.col("tgt").alias("t"), F.lit(1.0).alias("w")
    )
    sym = (
        e.unionByName(
            e.select(F.col("t").alias("s"), F.col("s").alias("t"), "w")
        )
        .groupBy("s", "t")
        .agg(F.max("w").alias("w"))
    )
    strength = sym.groupBy("s").agg(F.sum("w").alias("_tot"))
    wnorm = (
        sym.join(strength, "s")
        .select("s", "t", (F.col("w") / F.col("_tot")).alias("wn"))
        .localCheckpoint(eager=True)
    )
    # the seed mass literal must be the IDENTICAL double on every
    # engine: the oracle computes (1.0 - alpha) too, not a decimal
    # constant (0.2 != float64(1.0 - 0.8) by 5.6e-17 — enough to
    # straddle a rounding boundary once per ~10^6 sums)
    seed = seeds.select(
        "node",
        F.col("label").cast("string").alias("lab"),
        F.lit(1.0 - float(alpha)).alias("sc"),
    ).localCheckpoint(eager=True)

    scores = seeds.select(
        "node",
        F.col("label").cast("string").alias("lab"),
        F.lit(1.0).alias("sc"),
    )
    for _ in range(iters):
        contrib = (
            scores.select(F.col("node").alias("s"), "lab", "sc")
            .join(wnorm, "s")
            .select(
                F.col("t").alias("node"), "lab",
                (F.lit(float(alpha)) * F.col("sc") * F.col("wn")).alias("sc"),
            )
        )
        scores = (
            contrib.unionByName(seed)
            .groupBy("node", "lab")
            .agg(F.round(F.sum("sc"), 9).alias("sc"))
            .localCheckpoint(eager=False)
        )
    # argmax on the 6-dp READOUT quantum: at 9 dp a cross-engine
    # rounding straddle between two near-tied labels could flip the
    # prediction even when both scores survive the readout rounding
    best = (
        scores.select(
            "node", "lab", F.round("sc", 6).alias("sc6")
        )
        .groupBy("node")
        .agg(F.max(F.struct("sc6", "lab")).alias("_b"))
    )
    # wnorm is the eager checkpoint and carries every sym source —
    # re-deriving nodes from sym would recompute the symmetrization
    all_nodes = wnorm.select(F.col("s").alias("node")).distinct()
    return all_nodes.join(best, "node", "left").select(
        "node",
        F.col("_b.lab").alias("pred_label"),
        F.col("_b.sc6").alias("score"),
    )
