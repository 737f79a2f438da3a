"""Training-data curation: deterministic sampling, splits, domain stats.

A 100 TB web corpus is never trained on whole: pipelines draw
per-stratum mixtures (by language, domain, quality band) and carve
held-out splits. The standard scale-correct way is HASH-THRESHOLD
sampling: a row is selected iff a stable hash of (id, seed) falls under
the stratum's rate. Properties that matter at scale:

- **shuffle-free**: selection is a row-local filter — no sort, no
  shuffle, no RNG state; Catalyst pushes the predicate to the scan.
- **deterministic + seed-stable**: the same (id, seed) always lands in
  the same split, across reruns, partitionings, and engines — which is
  what makes train/val contamination checks and incremental re-runs
  possible.
- **composable**: rates are data (a small dict / broadcast map), so a
  mixture spec is a join against a tiny frame, not code.

The hash is the first 8 hex chars of md5(id <US> seed), uniform on
[0, 2^32) — the same digest-slice trick the minhash family uses
(operators/dedup.py), and directly mirrorable in DuckDB/any SQL:
``CAST(concat('0x', substr(md5(...), 1, 8)) AS BIGINT)``.

Reference note: the reference server has no sampling surface (its
corpora are small); this module is part of the engine's
training-data-pipeline extension, same family as dedup/textstats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: unit separator — same framing byte the id schemes use elsewhere
_US = "\x1f"

_HASH_SPACE = float(1 << 32)


def _int_hash(id_col, seed: str) -> F.Column:
    """Stable uniform bigint on [0, 2^32) from an md5 slice of
    (id, seed) — the engine-portable hash every op here keys on."""
    return F.conv(
        F.substring(F.md5(F.concat_ws(_US, id_col, F.lit(seed))), 1, 8),
        16, 10,
    ).cast("bigint")


def _unit_hash(id_col, seed: str) -> F.Column:
    """Uniform [0, 1) double from a stable md5 slice of (id, seed)."""
    return _int_hash(id_col, seed) / F.lit(_HASH_SPACE)


def _op_seed(salt: str, seed: str) -> str:
    """Op-salted effective seed. Each sampling op hashes
    (id <US> "<op><US><seed>") rather than the bare (id <US> seed):
    without the salt, stratified_sample(rate=r) piped into
    train_val_split(val_fraction=f) with the SAME seed computes the
    SAME uniform u per row, so every survivor of the first draw
    (u < r) with f >= r is assigned 'val' — fully correlated draws
    and an empty train split. The salt makes the ops' draws
    independent while staying deterministic and engine-portable
    (the DuckDB mirror concatenates the same salted seed)."""
    return f"{salt}{_US}{seed}"


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    rates: dict[str, float],
    seed: str = "42",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling (a training-mixture draw).

    ``rates`` maps stratum value → inclusion rate in [0, 1]; strata not
    listed get ``default_rate``. The rate table joins as a broadcast
    (it is a mixture SPEC — dozens of rows), the selection itself is a
    row-local hash threshold: no shuffle of the corpus, ever.
    """
    spark = df.sparkSession
    spec = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(rates.items())],
        f"{stratum_col} string, _rate double",
    )
    return (
        df.join(F.broadcast(spec), stratum_col, "left")
        .withColumn("_rate", F.coalesce("_rate", F.lit(float(default_rate))))
        .where(_unit_hash(F.col(id_col), _op_seed("sample", seed)) < F.col("_rate"))
        .drop("_rate")
    )


def train_val_split(
    df: DataFrame,
    id_col: str,
    val_fraction: float = 0.01,
    seed: str = "42",
) -> DataFrame:
    """Stable train/val assignment: adds ``split`` ∈ {train, val}.

    The same document lands in the same split in every rerun and in
    every engine that computes the same md5 slice — the contamination
    guarantee a held-out set needs. Row-local; no shuffle.
    """
    return df.withColumn(
        "split",
        F.when(
            _unit_hash(F.col(id_col), _op_seed("split", seed))
            < F.lit(float(val_fraction)),
            F.lit("val"),
        ).otherwise(F.lit("train")),
    )


def pack_sequences(
    docs: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    n_buckets: int = 1024,
) -> DataFrame:
    """Training-sequence packing: assign each document to a
    (bucket, bin_ix) so that each bin's token total fits ``budget``.

    Globally-optimal bin packing is inherently sequential; the
    scale-correct decomposition is LOCAL first-fit-decreasing inside
    deterministic hash buckets:

    - **bucket** = md5-slice(id, "42") mod ``n_buckets`` — a row-local
      assignment, so the only shuffle is the one ``applyInPandas``
      needs to co-locate each bucket (one exchange on a uniform key;
      bucket count, not document skew, sets task balance).
    - **within a bucket**: documents sorted (tokens desc, id asc) are
      placed first-fit into the lowest-index bin with room — classic
      FFD (≤ 11/9·OPT + 1 bins per bucket). Oversize documents
      (tokens ≥ budget) get a dedicated bin each, flagged.
    - **deterministic end to end**: same id → same bucket; the
      in-bucket order is a total order → same bins on every run and
      engine, which is what makes packed-corpus reproducibility and
      resume possible.

    Buckets bound packing state to O(docs/bucket): at 10^12 documents,
    n_buckets scales with the cluster (e.g. 2^20) and each task packs
    ~10^6 rows in memory. The per-bucket loss vs global packing is the
    standard trade every distributed packer makes (bins never span
    buckets).

    Returns (id, tokens, bucket, bin_ix, oversize).
    """
    src = docs.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(tokens_col).cast("long").alias("tokens"),
        (F.pmod(_int_hash(F.col(id_col), _op_seed("pack", "42")), F.lit(n_buckets)))
        .cast("int")
        .alias("bucket"),
    )

    import pandas as pd

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["tokens", "id"], ascending=[False, True]
        ).reset_index(drop=True)
        remaining: list[int] = []
        bin_ix: list[int] = []
        oversize: list[bool] = []
        for t in pdf["tokens"]:
            t = int(t)
            if t >= budget:
                bin_ix.append(len(remaining))
                remaining.append(0)
                oversize.append(True)
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
            bin_ix.append(placed)
            oversize.append(False)
        pdf["bin_ix"] = bin_ix
        pdf["oversize"] = oversize
        return pdf[["id", "tokens", "bucket", "bin_ix", "oversize"]]

    return src.groupBy("bucket").applyInPandas(
        pack,
        schema=(
            "id string, tokens long, bucket int, bin_ix int, oversize boolean"
        ),
    )


def temperature_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    alpha: float = 0.3,
    target_fraction: float = 0.5,
    seed: str = "42",
) -> DataFrame:
    """Temperature-based mixture rebalancing (the multilingual
    α-sampling rule: draw strata with probability ∝ p^α, flattening a
    Zipfian language/domain distribution so head strata stop dominating
    and tail strata are upsampled to their cap).

    With stratum shares p_l = n_l/N, the target mixture is
    q_l = p_l^α / Σ p^α and each stratum's inclusion rate is
    ``min(1, q_l · target_fraction · N / n_l)`` — expected output size
    ≈ target_fraction · N (less the mass clipped at rate 1 for tiny
    strata, the standard cap: a stratum cannot be sampled above 100 %
    without duplication).

    Everything stays lazy and scale-shaped: the stratum histogram is
    one map-side-combined aggregation (rows = #strata, not #docs), the
    rate table is derived from it with two single-row cross joins and
    broadcast back, and the selection itself is the same row-local
    hash threshold every op here uses. Rates are rounded to 9 dp so
    both engines' libm/summation ULP differences vanish while the
    threshold comparison stays far above the hash granularity (2^-32).
    """
    counts = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    total = counts.agg(F.sum("_n").alias("_tot"))
    spec = (
        counts.crossJoin(F.broadcast(total))
        .withColumn("_q", F.pow(F.col("_n") / F.col("_tot"), F.lit(float(alpha))))
    )
    z = spec.agg(F.sum("_q").alias("_z"))
    rates = spec.crossJoin(F.broadcast(z)).select(
        stratum_col,
        F.round(
            F.least(
                F.lit(1.0),
                F.col("_q") / F.col("_z") * F.lit(float(target_fraction))
                * F.col("_tot") / F.col("_n"),
            ),
            9,
        ).alias("_rate"),
    )
    return (
        df.join(F.broadcast(rates), stratum_col)
        .where(
            _unit_hash(F.col(id_col), _op_seed("tsample", seed))
            < F.col("_rate")
        )
        .drop("_rate")
    )


def domain_cap(
    docs: DataFrame,
    id_col: str,
    url_col: str = "source",
    cap: int = 100,
    seed: str = "42",
    margin: float = 8.0,
) -> DataFrame:
    """Per-domain cap: keep at most ``cap`` documents per domain — the
    Common-Crawl-style curation pass that stops a single mega-host from
    dominating the training mixture.

    The semantic contract is exact and deterministic: per domain, the
    ``cap`` documents with the SMALLEST (md5-hash, id) survive — a
    uniform random-but-stable choice, identical across reruns, engines
    and partitionings.

    Scale design (the naive ``row_number() OVER (PARTITION BY domain)``
    makes the biggest domain one giant sort task):

    - **small domains never shuffle**: one map-side-combined count
      aggregation finds the oversized domains; everything else passes
      through via a broadcast anti-join (#oversized ≤ corpus/cap, so
      the broadcast is bounded by construction).
    - **oversized domains are hash-prefiltered before ranking**: only
      rows with hash < ``margin·cap/n`` of the hash space enter the
      window sort, so the expected sort input per domain is
      ``margin·cap`` rows — independent of the domain's size. The cap
      smallest hashes are inside the prefilter whenever it kept ≥ cap
      rows, so the result is still exact.
    - **a lazy fallback branch restores exactness** for the
      vanishingly-rare domains where the prefilter kept < cap rows
      (P ≈ Chernoff(e^{-Θ(margin·cap)}); for cap=1, ~e^{-margin}):
      those domains alone are re-ranked without the prefilter. The
      branch is planned but empty in the common case.

    Returns the surviving rows with an added ``domain`` column.
    """
    from pyspark.sql import Window

    d = docs.withColumn("domain", url_domain(F.col(url_col))).withColumn(
        "_h", _int_hash(F.col(id_col), _op_seed("domcap", seed))
    )
    counts = d.groupBy("domain").agg(F.count(F.lit(1)).alias("_n"))
    over = counts.where(F.col("_n") > cap)

    keep_small = d.join(
        F.broadcast(over.select("domain")), "domain", "left_anti"
    )

    big = d.join(F.broadcast(over), "domain", "inner")
    # threshold on the raw 32-bit hash; >= 2^32 means "no prefilter"
    thresh = F.least(
        F.lit(_HASH_SPACE),
        F.ceil(F.lit(float(margin) * cap) / F.col("_n") * F.lit(_HASH_SPACE)),
    )
    pre = big.where(F.col("_h") < thresh)

    pre_counts = pre.groupBy("domain").agg(F.count(F.lit(1)).alias("_npre"))
    ok_doms = pre_counts.where(F.col("_npre") >= cap).select("domain")
    fail_doms = over.select("domain").join(ok_doms, "domain", "left_anti")

    w = Window.partitionBy("domain").orderBy(F.col("_h"), F.col(id_col))
    ranked_pre = (
        pre.join(F.broadcast(ok_doms), "domain", "inner")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
    )
    ranked_fallback = (
        big.join(F.broadcast(fail_doms), "domain", "inner")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
    )

    drop = ["_h", "_n", "_npre", "_rn"]
    return (
        keep_small.drop(*drop)
        .unionByName(ranked_pre.drop(*drop))
        .unionByName(ranked_fallback.drop(*drop))
    )


def group_split(
    df: DataFrame,
    group_col: str,
    fractions: dict[str, float],
    seed: str = "42",
) -> DataFrame:
    """Group-aware split: EVERY row of a group (domain, author, site)
    lands in the same split — the leakage guard a plain per-row split
    misses (near-identical pages from one host straddling train/val
    make eval numbers lie). ``fractions`` maps split name → fraction;
    names are assigned over cumulative hash-threshold intervals in
    sorted-name order, so the spec is deterministic data, not code.

    Row-local like every op here: the split is a pure function of
    md5(group, seed) — no shuffle, no group table, stable across
    engines and reruns."""
    total = sum(fractions.values())
    if not 0.999999 <= total <= 1.000001:
        raise ValueError(f"fractions must sum to 1, got {total}")
    u = _unit_hash(F.col(group_col), _op_seed("gsplit", seed))
    expr = None
    acc = 0.0
    for name, frac in sorted(fractions.items()):
        acc += float(frac)
        cond = u < F.lit(acc)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    # float accumulation can land acc at 0.9999...: close the interval
    last = sorted(fractions)[-1]
    return df.withColumn("split", expr.otherwise(F.lit(last)))


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: str = "42",
) -> DataFrame:
    """k-item weighted sample WITHOUT replacement (Efraimidis–Spirakis
    A-Res): every row gets key = ln(u)/w with u its deterministic
    hash-uniform and w its weight; the k LARGEST keys are the sample —
    provably equivalent to sequential weighted draws without
    replacement, but embarrassingly parallel: the key is row-local and
    the selection is a top-k (TakeOrderedAndProject — per-partition
    k-heaps, no shuffle of the data, only k rows per partition reach
    the driver-side merge).

    The quality-weighted corpus subsample every curation pipeline
    draws ("keep 10M docs, proportional to quality score"). Rows with
    w ≤ 0 are excluded (zero weight = zero inclusion probability).
    Keys are rounded to 9 dp with an id tie-break so libm ULPs cannot
    flip the boundary across engines. Returns the selected rows plus
    their ``_key`` (useful for reproducibility audits).
    """
    key = F.round(
        F.log(_unit_hash(F.col(id_col), _op_seed("wsample", seed)))
        / F.col(weight_col).cast("double"),
        9,
    )
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("_key", key)
        .orderBy(F.desc("_key"), id_col)
        .limit(k)
    )


def split_leak_audit(
    split_df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str | None = None,
) -> DataFrame:
    """Contamination audit: held-out rows whose near-duplicate partner
    landed in train — the leak every dedup-after-split pipeline must
    check before trusting its eval numbers.

    ``split_df`` carries the ``split`` column of train_val_split or
    group_split. ``pairs`` is any undirected near-dup pair frame
    (minhash, SimHash, embedding-cosine, SemDeDup) with columns
    (a, b) and an optional ``score_col``.
    Returns (id, n_train_neighbors, max_score) for each val row with
    at least one train partner. Pure joins + one aggregation: the pair
    frame is symmetrized (union of both directions), each side joins
    the split assignment, and the val-side groupBy counts partners.
    The pair table is the bounded output of a bucketed dedup op —
    orders of magnitude smaller than the corpus — so these joins
    broadcast in practice.
    """
    score = F.col(score_col) if score_col else F.lit(None).cast("double")
    sym = pairs.select(
        F.col("a").alias("_x"), F.col("b").alias("_y"),
        score.alias("_s"),
    ).unionByName(
        pairs.select(
            F.col("b").alias("_x"), F.col("a").alias("_y"),
            score.alias("_s"),
        )
    )
    splits = split_df.select(
        F.col(id_col).alias("_id"), F.col("split").alias("_split")
    )
    val_side = splits.where(F.col("_split") == "val").select(
        F.col("_id").alias("_x")
    )
    train_side = splits.where(F.col("_split") == "train").select(
        F.col("_id").alias("_y")
    )
    return (
        sym.join(val_side, "_x")
        .join(train_side, "_y")
        .groupBy("_x")
        .agg(
            F.count(F.lit(1)).alias("n_train_neighbors"),
            F.max("_s").alias("max_score"),
        )
        .select(
            F.col("_x").alias(id_col), "n_train_neighbors", "max_score"
        )
    )


def url_domain(url_col) -> F.Column:
    """Registrable host of a URL (scheme/userinfo/port/path stripped),
    lowercased. Pure regexp — stays in codegen."""
    return F.lower(
        F.regexp_extract(url_col, r"^(?:[a-z][a-z0-9+.-]*://)?(?:[^/@]*@)?([^/:?#]+)", 1)
    )


def domain_stats(
    docs: DataFrame,
    url_col: str = "source",
    chars_col: str = "n_chars",
) -> DataFrame:
    """Per-domain corpus profile: doc count, total/mean chars — the
    aggregation every CC-style curation pass starts from (domain
    allowlists, per-domain caps). One hash aggregation on the domain;
    Zipfian domain skew is bounded because partial aggregation
    (map-side combine) collapses each partition's contribution to one
    row per domain before the shuffle."""
    return (
        docs.select(
            url_domain(F.col(url_col)).alias("domain"),
            F.col(chars_col).cast("double").alias("_chars"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_chars").cast("bigint").alias("total_chars"),
            F.round(F.avg("_chars"), 4).alias("mean_chars"),
        )
    )
