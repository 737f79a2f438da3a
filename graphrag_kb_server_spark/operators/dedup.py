"""Deduplication family for large-scale training-data pipelines.

Five dedup strategies over a documents table, each returning either a
keep/drop assignment or duplicate-pair candidates. All are DataFrame
programs with no Python per row; the pair
builders persist their blocking index via LAZY local checkpoints —
constructing the frame runs no job, the first action materializes the
index once for all of its consumers. At cluster scale the same role is
played by writing the index table (parquet/Iceberg) before probing it,
which also survives executor loss; localCheckpoint trades that
durability for zero extra IO in a single-job run.

- exact_dedup            — hash groupBy on content
- minhash_lsh_dedup      — shingle → minhash → band → bucket self-join
- simhash_dedup          — 64-bit simhash, multi-permutation rotated
                           prefix blocks + hamming check
- ngram_jaccard_pairs    — token-shingle Jaccard via explode + join
- embedding_near_dup     — cosine over embedding vectors with LSH-style
                           bucket blocking (the scale path for
                           matching.py:100-128's dense similarity matrix)

Skew guard shared by every blocking strategy:
``split_oversized_buckets`` re-keys any bucket over its cap into
hash-derived sub-buckets (expected size ≤ cap) — a degenerate bucket
is split, never silently dropped — and ``oversized_bucket_stats``
surfaces the split counts for the metrics sidecar.

Keep-rule: the kept row per duplicate group is the explicit min of a
deterministic ordering column — never implicit row order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import vectors as V

#: MinHash LSH shape: hash functions, bands, and words per shingle
NUM_HASHES = 16
BANDS = 8
SHINGLE_WORDS = 3
#: sub-bucket cap of the minhash blocking
LSH_MAX_BUCKET = 256
#: sub-bucket cap of the simhash and embedding blockings
MAX_BUCKET = 4096
#: simhash prefix rotations (multi-permutation index)
SIMHASH_ROTATIONS = 4


def exact_dedup(df: DataFrame, content_col: str, order_col: str) -> DataFrame:
    """Keep the min-``order_col`` row per identical content. Adds
    ``dup_group_size``. Shuffle key = md5(content) (bounded-width key,
    avoids shuffling full text for comparison)."""
    keyed = df.withColumn("_k", F.md5(F.col(content_col)))
    w = Window.partitionBy("_k").orderBy(order_col)
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .withColumn("dup_group_size", F.count(F.lit(1)).over(Window.partitionBy("_k")))
        .where(F.col("_rn") == 1)
        .drop("_k", "_rn")
    )


def _band_table(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """(id, band) — one row per LSH band key over SHINGLE_WORDS-word
    shingles of the lowercased content."""
    return H.minhash_bands(
        df.select(F.col(id_col).alias("id"), F.col(content_col).alias("_c")),
        "id", H.word_shingles(F.lower(F.col("_c")), SHINGLE_WORDS),
        NUM_HASHES, BANDS,
    )


def minhash_lsh_dedup_incremental(
    new_df: DataFrame,
    seen_df: DataFrame,
    content_col: str,
    id_col: str,
) -> DataFrame:
    """Incremental near-dup probe: drop NEW documents whose any LSH
    band collides with the already-indexed corpus — the production
    shape of dedup, where each crawl batch probes the corpus instead
    of re-deduping 100 TB from scratch.

    The probe is one left-semi join on the band key: no pair
    expansion (a degenerate seen-side bucket costs one linear task,
    not C(n,2) rows), and in a real deployment ``seen_df``'s band
    table is a persisted/bucketed table so only the new batch computes
    signatures. Intra-batch duplicates are the existing
    ``minhash_lsh_dedup``'s job — compose the two. Returns the
    surviving new rows.
    """
    nb = _band_table(new_df, content_col, id_col)
    sb = _band_table(seen_df, content_col, id_col)
    hit = (
        nb.join(sb.select("band"), "band", "left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return new_df.join(hit, id_col, "left_anti")


def minhash_lsh_pairs(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b) via word-shingle
    MinHash LSH. Pair formation is band-bucket-local (equi-join on the
    band key), never all-pairs; a band bucket over ``LSH_MAX_BUCKET``
    is split."""
    b = _band_table(df, content_col, id_col)
    b = split_oversized_buckets(b, "band", "id", LSH_MAX_BUCKET)
    return (
        b.alias("x")
        .join(b.alias("y"), "band")
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def split_oversized_buckets(
    bucketed: DataFrame, bucket_col: str, id_col: str, max_bucket: int
) -> DataFrame:
    """LSH skew guard: re-key any bucket with more than ``max_bucket``
    members into ``ceil(n/max_bucket)`` hash-derived sub-buckets
    (``int(md5(id)[:8], 16) % nsub``). Pairs are then formed within
    sub-buckets — a degenerate bucket (stopword shingles, all-zero
    simhash blocks) is SPLIT, never silently dropped: expected cost
    stays O(buckets · max_bucket²) while every member keeps a chance
    to pair. Cross-sub-bucket pairs in a mega-bucket are the
    (documented) recall trade for bounded cost; at 100 TB a mega-bucket
    is by construction low-signal (its key carries no discriminative
    information).

    Skew-safe by construction: the big side never shuffles — the only
    aggregation is a map-side-combined count per bucket, filtered to the
    (few) oversized keys and broadcast back, and the sub-bucket id is a
    per-row hash, so a mega-bucket never lands in a single task the way
    a row_number window sort would. The trade is exact ≤max_bucket
    sub-sizes for EXPECTED sizes (hash-mod balance). Use
    ``oversized_bucket_stats`` to surface how many buckets were split."""
    counts = (
        bucketed.groupBy(bucket_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > max_bucket)
        .select(
            bucket_col,
            F.ceil(F.col("_n") / F.lit(max_bucket)).cast("long").alias("_nsub"),
        )
    )
    sub = F.when(F.col("_nsub").isNull(), F.lit(0).cast("long")).otherwise(
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
        % F.col("_nsub")
    )
    return (
        bucketed.join(F.broadcast(counts), bucket_col, "left")
        .withColumn(
            bucket_col, F.concat_ws("#", F.col(bucket_col), sub.cast("string"))
        )
        .drop("_nsub")
    )


def oversized_bucket_stats(
    bucketed: DataFrame, bucket_col: str, max_bucket: int
) -> DataFrame:
    """(n_buckets, n_oversized, max_size) for LSH bucket metrics rows —
    lazily composable; callers collect it into their metrics sidecar."""
    return bucketed.groupBy(bucket_col).agg(
        F.count(F.lit(1)).alias("_n")
    ).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum((F.col("_n") > max_bucket).cast("int")).alias("n_oversized"),
        F.max("_n").alias("max_size"),
    )


def minhash_lsh_dedup(
    df: DataFrame,
    content_col: str,
    id_col: str,
    order_col: str | None = None,
) -> DataFrame:
    """Drop near-duplicates: LSH pairs → connected components over the
    duplicate graph → keep ONE member per component.

    The keeper is the component's minimum by ``(order_col, id)`` —
    default min id; pass e.g. a negated quality score to keep the
    best-quality member (the curation-pipeline winner rule: dedup
    should drop the worst copies, not an arbitrary one)."""
    from .components import connected_components

    order_col = order_col or id_col
    pairs = minhash_lsh_pairs(df, content_col, id_col)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    if order_col == id_col:
        keep = comp.groupBy("component").agg(F.min("node").alias("_keep"))
    else:
        scored = comp.join(
            df.select(
                F.col(id_col).alias("node"), F.col(order_col).alias("_o")
            ),
            "node",
        )
        keep = (
            scored.groupBy("component")
            .agg(F.min(F.struct("_o", "node")).alias("_k"))
            .select("component", F.col("_k.node").alias("_keep"))
        )
    drop = (
        comp.join(keep, "component")
        .where(F.col("node") != F.col("_keep"))
        .select(F.col("node").alias(id_col))
    )
    return df.join(drop, id_col, "left_anti")


def minhash_cluster_ids(
    df: DataFrame,
    content_col: str,
    id_col: str,
) -> DataFrame:
    """Near-dup CLUSTER assignment: every row gets a stable
    ``cluster_id`` (the min id of its duplicate component; singletons
    map to themselves). The surface downstream curation wants when it
    groups copies instead of dropping them (e.g. count versions per
    cluster, pick winners later, audit dup mass per domain)."""
    from .components import connected_components

    pairs = minhash_lsh_pairs(df, content_col, id_col)
    # min-label CC: the component label IS the min member id
    comp = connected_components(pairs, src="id_a", dst="id_b")
    mapped = comp.select(
        F.col("node").alias(id_col), F.col("component").alias("cluster_id")
    )
    return (
        df.select(id_col)
        .join(mapped, id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        )
    )


def simhash_dedup_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    prefix_nibbles: int = 4,
    max_hamming_nibbles: int = 2,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit simhash over word tokens; block on
    the hash prefix under ``SIMHASH_ROTATIONS`` nibble-rotations of the hash
    (the standard multi-permutation simhash index: a near-dup pair that
    differs inside one rotation's prefix agrees on another rotation's
    prefix whenever its differing nibbles don't span every rotation
    window); verify by nibble-level hamming distance ≤ k; union + dedup
    pairs across rotations. A single-prefix block would miss near-dups
    differing in the leading nibbles. Each rotation's block key is
    tagged with the rotation index
    so buckets never mix across rotations; oversized blocks are split,
    not dropped (split_oversized_buckets)."""
    tokens = F.split(F.lower(F.trim(F.col(content_col))), r"\s+")
    step = 16 // SIMHASH_ROTATIONS
    # computed ONCE per row, shared by every consumer: the simhash
    # frame feeds the oversize-split stats, its join-back, and both
    # self-join sides. The checkpoint is LAZY — building this frame
    # runs no job; the first action materializes it (lineage truncated,
    # partitions persisted) so the 64-bit hash is not recomputed per
    # consumer. The two 32-bit halves are decoded here, inside the
    # checkpointed select: the pair verify then counts differing
    # nibbles via xor+shift+mask on longs instead of 32 substring
    # allocations per candidate pair — the skewed block's single join
    # task is pair-bound, so per-pair cost is what bounds the
    # straggler. nibble_hamming values are identical.
    sh = df.select(
        F.col(id_col).alias("id"),
        H.simhash64(tokens).alias("sim"),
    ).select(
        "id",
        "sim",
        F.conv(F.substring("sim", 1, 8), 16, 10).cast("bigint").alias("_hi"),
        F.conv(F.substring("sim", 9, 8), 16, 10).cast("bigint").alias("_lo"),
    ).localCheckpoint(eager=False)
    # `sim` stays behind in the checkpoint: it is consumed here to
    # build the rotation block keys and would otherwise ride the
    # 4×-exploded rows and both shuffled self-join sides as dead payload
    rotated = sh.select(
        "id",
        "_hi",
        "_lo",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{r}|"),
                        F.substring(
                            F.concat(
                                F.substring("sim", r * step + 1, 16 - r * step),
                                F.substring("sim", 1, r * step),
                            ),
                            1,
                            prefix_nibbles,
                        ),
                    )
                    for r in range(SIMHASH_ROTATIONS)
                ]
            )
        ).alias("block"),
    )
    rotated = split_oversized_buckets(rotated, "block", "id", MAX_BUCKET)
    x, y = rotated.alias("x"), rotated.alias("y")
    # nibble hamming: count non-zero nibbles of the xor-ed halves
    xh = F.col("x._hi").bitwiseXOR(F.col("y._hi"))
    xl = F.col("x._lo").bitwiseXOR(F.col("y._lo"))
    diff = sum(
        F.when(F.shiftright(half, 4 * i).bitwiseAND(F.lit(15)) != 0, 1).otherwise(0)
        for half in (xh, xl)
        for i in range(8)
    )
    return (
        x.join(y, F.col("x.block") == F.col("y.block"))
        .where(F.col("x.id") < F.col("y.id"))
        .withColumn("nibble_hamming", diff)
        .where(F.col("nibble_hamming") <= max_hamming_nibbles)
        .select(
            F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"), "nibble_hamming"
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    shingle_words: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard over word-shingle sets, computed distributively:
    explode shingles → self-join on shingle (inverted index) → count
    intersections → |A∩B| / (|A|+|B|−|A∩B|). The shingle join IS the
    blocking: pairs sharing no shingle never meet."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(H.word_shingles(F.lower(F.col(content_col)), shingle_words)).alias("s"),
    ).distinct().localCheckpoint(eager=False)
    # the inverted index is computed once (LAZY checkpoint: no job at
    # build time; the first action persists it) — it is read by the
    # size aggregate and BOTH sides of the shingle self-join; at scale
    # this is the analogue of writing the index table before probing it
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), "s")
        .where(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "nb"), "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup with random-hyperplane (SimHash-for-
    vectors) bucket blocking: sign pattern of ``n_planes`` seeded
    hyperplanes = bucket key; cosine verified within bucket only.

    Scale guard: each of the 2^n_planes buckets holds ~rows/2^n_planes
    members, and the within-bucket self-join is quadratic in that, so
    ``MAX_BUCKET`` splits any oversized bucket (near-duplicate pile-ups
    are exactly where buckets concentrate) into bounded sub-buckets
    instead of silently dropping it (``split_oversized_buckets``).

    Recall trade: more planes → smaller buckets but more true pairs
    split across buckets (P[same bucket] = (1 − θ/π)^n_planes). For
    wider tolerance, repeat the blocking with independent seeds and
    union the outputs.

    Matches the reference's greedy cosine-dedup semantics
    (matching.py:100-128) with keep-earlier-wins applied by the caller.
    """
    import numpy as np

    dim_row = df.select(F.size(vec_col).alias("d")).first()
    dim = dim_row["d"] if dim_row else 0
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    # staged select: the double-cast vector is materialized as its own
    # projection so the n_planes sign expressions reference the staged
    # column instead of re-running the transform-cast per plane
    # (CollapseProject keeps a non-cheap expr referenced >1x staged)
    base = df.select(
        F.col(id_col).alias("id"), V.to_double(F.col(vec_col)).alias("v")
    )
    bucket = F.concat_ws(
        "",
        *[
            F.when(
                F.aggregate(
                    F.zip_with(
                        F.col("v"),
                        F.array(*[F.lit(float(x)) for x in planes[p]]),
                        lambda a, b: a * b,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                >= 0,
                F.lit("1"),
            ).otherwise(F.lit("0"))
            for p in range(n_planes)
        ],
    )
    # per-row norm precomputed ONCE: interpreted HOFs get no
    # common-subexpression elimination, so V.cosine inside the pair
    # join would re-aggregate both norms for every candidate pair
    # (4+ array scans/pair). With norms carried as a scalar column the
    # pair predicate costs one dot — bit-identical values, the norm is
    # the same float computation on the same array.
    keyed = base.select(
        "id", "v", bucket.alias("bucket"), V.norm(F.col("v")).alias("nrm")
    ).localCheckpoint(eager=False)  # signs/norm computed once, not per consumer (lazy: no job until first action)
    keyed = split_oversized_buckets(keyed, "bucket", "id", MAX_BUCKET)
    x, y = keyed.alias("x"), keyed.alias("y")
    cos = V.cosine_with_norms(
        F.col("x.v"), F.col("y.v"), F.col("x.nrm"), F.col("y.nrm")
    )
    return (
        x.join(y, F.col("x.bucket") == F.col("y.bucket"))
        .where(F.col("x.id") < F.col("y.id"))
        .withColumn("cosine", cos)
        .where(F.col("cosine") >= threshold)
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"), "cosine")
        .distinct()
    )
