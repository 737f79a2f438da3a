"""Triangle counting + local clustering coefficient.

The density primitive behind web spam detection (link farms are
near-cliques), community strength scoring, and graph ML features. The
reference has no triangle surface; this extends the same analytics
family as centrality/components (SURVEY §2.4).

Spark-first shape — the classic degree-ordered orientation (Cohen
2009 / Suri-Vassilvitskii "last reducer" fix):

- orient every undirected edge from its (degree, id)-smaller endpoint
  to the larger: each triangle survives as exactly ONE wedge + closing
  edge, and — the skew point — a hub of degree D generates wedges only
  from neighbors of LOWER degree, bounding total wedges by O(m^{3/2})
  instead of Σ deg² (which a Zipfian web graph cannot afford).
- triangles = oriented ⋈ oriented (wedge join on the middle vertex)
  ⋈ oriented (closing-edge semi join): two shuffle joins on edge keys.
- per-node counts: each triangle credits all three corners — one
  explode + count aggregation.

The oracle counts triangles a DIFFERENT way (id-ordered 3-way join,
no degree orientation) — an independent derivation of the same
contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sym_deg(edges: DataFrame, src: str, dst: str):
    """Canonical simple-undirected form shared by every op here:
    (checkpointed symmetric edge set with self-loops dropped, degree
    frame). One definition so dedup/self-loop conventions cannot
    drift between triangle counting and link prediction."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
            .where(F.col("a") != F.col("b"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    return sym, deg


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "tgt"
) -> DataFrame:
    """(node, degree, triangles, clustering) over the simple undirected
    graph; clustering = 2T/(d(d-1)) rounded to 6 dp (0.0 for d < 2),
    sorted by triangles desc."""
    sym, deg = _sym_deg(edges, src, dst)

    # orient: keep (a,b) iff (deg_a, a) < (deg_b, b) — a strict total
    # order, so each undirected edge survives exactly once
    with_deg = (
        sym.join(deg, "a")
        .join(
            deg.select(F.col("a").alias("b"), F.col("d").alias("db")), "b"
        )
    )
    oriented = with_deg.where(
        (F.col("d") < F.col("db"))
        | ((F.col("d") == F.col("db")) & (F.col("a") < F.col("b")))
    ).select("a", "b").localCheckpoint(eager=False)

    # wedge (a→b, b→c) closed by a→c
    wedges = oriented.join(
        oriented.select(F.col("a").alias("b"), F.col("b").alias("c")), "b"
    )
    tris = wedges.join(
        oriented.select(F.col("a"), F.col("b").alias("c")),
        ["a", "c"],
        "left_semi",
    )

    per_node = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.select(F.col("a").alias("node"), F.col("d").alias("degree"))
        .join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.when(
                F.col("degree") < 2, F.lit(0.0)
            ).otherwise(
                F.round(
                    2.0 * F.coalesce("triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                )
            ).alias("clustering"),
        )
        .orderBy(F.desc("triangles"), "node")
    )


#: middle nodes above this degree are left out of adamic_adar's wedges
MAX_HUB_DEGREE = 10_000


def adamic_adar(edges: DataFrame, top_k: int = 50) -> DataFrame:
    """Adamic–Adar link prediction over edges(src, tgt): for
    non-adjacent pairs (a, b), ``AA = Σ_{w ∈ N(a)∩N(b)} 1/ln(deg(w))``
    — the classic
    common-neighbor score (rare shared neighbors count more). Returns
    the ``top_k`` candidate links (a < b, no existing edge) by
    (score desc, a, b), score 6-dp rounded.

    Scale shape: candidates come from the wedge join through the
    common neighbor (two key-partitioned joins + one pair-keyed
    aggregation — the triangle-counting machinery pointed at OPEN
    wedges). Wedge volume is Σ deg(w)², so ``MAX_HUB_DEGREE`` excludes
    super-hubs from the middle position — the standard cut, and nearly
    free on the score: a 10^4-degree hub contributes 1/ln(10^4) ≈ 0.1
    to every one of its 10^8 pairs, all noise. Degree-1 middles are
    excluded by construction (they cannot join two distinct nodes).
    """
    sym, deg = _sym_deg(edges, "src", "tgt")
    # checkpoint the wedge input: the self-join below would otherwise
    # recompute the degree aggregation + join on both sides
    mid = (
        sym.select(F.col("b").alias("w"), F.col("a").alias("u"))
        .join(
            deg.select(
                F.col("a").alias("w"), F.col("d").alias("dw")
            ).where(
                (F.col("dw") >= 2) & (F.col("dw") <= MAX_HUB_DEGREE)
            ),
            "w",
        )
        .localCheckpoint(eager=False)
    )
    wedges = mid.join(
        mid.select(F.col("w"), F.col("u").alias("v")), "w"
    ).where(F.col("u") < F.col("v"))
    scored = wedges.groupBy("u", "v").agg(
        F.round(F.sum(F.lit(1.0) / F.log("dw")), 6).alias("aa")
    )
    return (
        scored.join(
            sym.select(F.col("a").alias("u"), F.col("b").alias("v")),
            ["u", "v"],
            "left_anti",
        )
        .select(F.col("u").alias("a"), F.col("v").alias("b"), "aa")
        .orderBy(F.desc("aa"), "a", "b")
        .limit(top_k)
    )
