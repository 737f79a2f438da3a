"""Entity linking + canonicalization (north rule; reference analogues:
prompt-level canonicalization at
/root/reference/graphrag_kb_server/service/lightrag/lightrag_index_support.py:12-24,
embedding-cosine dedup at
/root/reference/graphrag_kb_server/service/search/matching.py:100-128,
abbreviation removal at matching.py:38-59, components at
lightrag_graph_support.py:151-164).

Pipeline:
1. candidate generation — MinHash-LSH blocking on character-3-gram
   shingles of the lowercased name (functions/hashing.py). Pairs are
   only formed WITHIN an LSH band bucket: a self-equi-join on band key,
   which Catalyst executes as a shuffle hash join on the band key —
   never the O(n^2) cross product the reference's dense similarity
   matrix implies.
2. scoring — cosine of the deterministic hash-embeddings of the names
   (functions/embedding.py); keep pairs ≥ threshold. (matching.py:118
   uses 0.51 on real embeddings; hash-embeddings are sharper, default
   0.80.)
3. abbreviation pairs — initials(b) == a (matching.py:38-59) are also
   linked, as an additional candidate channel (exact equi-join on the
   initials expression).
4. canonicalization — union the pair channels into a similarity-edge
   list, run connected components (G3), canonical name = min member;
   rewrite nodes and edges onto canonical ids and re-merge.

Skew note: a degenerate band bucket (stopword-ish names) would create
a quadratic pair explosion; any bucket over ``MAX_BUCKET`` is SPLIT
into bounded deterministic sub-buckets (operators.dedup.
split_oversized_buckets) — never silently dropped. The index pipeline
records how many buckets were split in its metrics sidecar: the driver
path of ``canonical_map`` reports it from the buckets it built, the
distributed path via ``candidate_bucket_stats``.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import GRAPH_FIELD_SEP
from ..functions import hashing as H
from ..functions import text as TXT
from ..functions import vectors as V
from ..functions.embedding import embed_udf
from .components import connected_components
from .dedup import oversized_bucket_stats, split_oversized_buckets
from .graph_support import collect_if_small

log = logging.getLogger(__name__)

#: cosine floor of a linked name pair
THRESHOLD = 0.80
NUM_HASHES = 8
BANDS = 4  # 4 bands × 2 rows
#: members of a band bucket above which it is split
MAX_BUCKET = 64


def _banded_names(names: DataFrame) -> DataFrame:
    """(name, band) over character-3-gram shingles of the lowercased
    name, shared by candidate_pairs and candidate_bucket_stats."""
    return H.minhash_bands(
        names, "name", H.char_shingles(F.lower(F.col("name"))),
        NUM_HASHES, BANDS,
    )


def candidate_pairs(names: DataFrame) -> DataFrame:
    """names → (name_a, name_b) candidate pairs, name_a < name_b."""
    bucketed = _banded_names(names)
    # split pathological buckets before the self-join (LSH guardrail —
    # bounded cost, nothing silently dropped)
    bucketed = split_oversized_buckets(bucketed, "band", "name", MAX_BUCKET)
    a = bucketed.select(F.col("band"), F.col("name").alias("name_a"))
    b = bucketed.select(F.col("band"), F.col("name").alias("name_b"))
    return (
        a.join(b, "band")
        .where(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )


def candidate_bucket_stats(names: DataFrame) -> DataFrame:
    """One-row (n_buckets, n_oversized, max_size) for the LSH blocking
    metrics sidecar — how many band buckets exceeded ``MAX_BUCKET`` and
    were therefore split. A non-zero n_oversized at production scale is
    the signal to add bands/hashes (smaller collision probability) or
    raise MAX_BUCKET.

    This recomputes the band buckets, so the index pipeline calls it
    only when ``canonical_map`` took the distributed path; the driver
    path reports the same row from its own buckets (``bucket_stats``),
    pinned equal to this one by tests/test_r06_driver_parity.py."""
    return oversized_bucket_stats(_banded_names(names), "band", MAX_BUCKET)


def score_pairs(pairs: DataFrame, names: DataFrame) -> DataFrame:
    """Attach embedding-cosine scores; keep pairs ≥ ``THRESHOLD``."""
    # per-name norm computed once on the (vocabulary-sized) embedding
    # frame; the pair scorer then pays one dot per pair (cosine would
    # re-aggregate both norms per pair under interpreted HOFs)
    emb = names.select(
        "name", V.to_double(embed_udf(F.col("name"))).alias("vec")
    ).withColumn("nrm", V.norm(F.col("vec")))
    ea = (
        emb.withColumnRenamed("name", "name_a")
        .withColumnRenamed("vec", "vec_a")
        .withColumnRenamed("nrm", "nrm_a")
    )
    eb = (
        emb.withColumnRenamed("name", "name_b")
        .withColumnRenamed("vec", "vec_b")
        .withColumnRenamed("nrm", "nrm_b")
    )
    scored = (
        pairs.join(ea, "name_a")
        .join(eb, "name_b")
        .select(
            "name_a",
            "name_b",
            V.cosine_with_norms(
                F.col("vec_a"), F.col("vec_b"), F.col("nrm_a"), F.col("nrm_b")
            ).alias("score"),
        )
    )
    return scored.where(F.col("score") >= THRESHOLD)


def abbreviation_pairs(names: DataFrame) -> DataFrame:
    """Link an entity to another whose uppercased form equals its word
    initials (matching.py:38-59): ("AI", "Artificial Intelligence")."""
    base = names.select("name")
    abbrevs = base.select(F.col("name").alias("name_a"), F.upper("name").alias("_k")).where(
        ~F.col("name").contains(" ")
    )
    # single-word names are valid expansions too (reference initials
    # come from any split(): 'W' abbreviates 'Wombat'); the self-pair
    # is excluded below
    expansions = base.select(
        F.col("name").alias("name_b"), TXT.initials(F.col("name")).alias("_k")
    )
    return (
        abbrevs.join(expansions, "_k")
        .where(F.col("name_a") != F.col("name_b"))
        .select("name_a", "name_b")
    )


def _canonical_map_driver(names_list: list):
    """Driver-side twin of the LSH → cosine → components pipeline for
    small vocabularies — BIT-IDENTICAL to the distributed operators it
    mirrors (gated to printable-ASCII names so lower()/\\s+ semantics
    cannot diverge from the JVM):

    - shingles/minhash/bands: the same md5-hex slices
      (functions/hashing.py) via hashlib;
    - oversized-bucket split: the same ceil(n/MAX_BUCKET) +
      md5-mod sub-bucketing (operators/dedup.split_oversized_buckets);
    - scoring: the SAME ``embed_text`` the embed_udf slot calls, with
      the dot/norm folds accumulated left-to-right in float64 exactly
      like the Catalyst ``aggregate`` expressions
      (functions/vectors.py), so the >= THRESHOLD comparison sees the
      identical float;
    - abbreviation channel: upper()/initials() mirrored;
    - components: min-label union-find (components.py driver
      semantics); representative = (longest, then lexicographically
      smallest) member.

    Returns a sorted list of (name, canonical_name) pairs and the
    ``candidate_bucket_stats`` row of the band buckets as a dict (with
    its nulls on an empty vocabulary)."""
    import hashlib
    import math
    from collections import defaultdict

    from ..functions.embedding import embed_text

    rows_per_band = NUM_HASHES // BANDS

    def shingles(nm: str) -> list[str]:
        s = nm.lower()
        n = max(len(s) - 2, 1)
        return list(dict.fromkeys(s[i:i + 3] for i in range(n)))

    buckets: dict = defaultdict(list)
    for nm in names_list:
        hx = [hashlib.md5(g.encode("utf-8")).hexdigest() for g in shingles(nm)]
        sig = [
            min(h[j * 4:(j + 1) * 4] for h in hx)
            for j in range(NUM_HASHES)
        ]
        for bnd in range(BANDS):
            key = (bnd, tuple(sig[bnd * rows_per_band:(bnd + 1) * rows_per_band]))
            buckets[key].append(nm)
    sizes = [len(members) for members in buckets.values()]
    stats = {
        "n_buckets": len(sizes),
        "n_oversized": sum(n > MAX_BUCKET for n in sizes) if sizes else None,
        "max_size": max(sizes, default=None),
    }
    pairs: set = set()
    for members in buckets.values():
        if len(members) > MAX_BUCKET:
            nsub = -(-len(members) // MAX_BUCKET)
            subs: dict = defaultdict(list)
            for nm in members:
                subs[
                    int(hashlib.md5(nm.encode("utf-8")).hexdigest()[:8], 16)
                    % nsub
                ].append(nm)
            groups = subs.values()
        else:
            groups = [members]
        for grp in groups:
            for i, a in enumerate(grp):
                for b in grp[i + 1:]:
                    pairs.add((a, b) if a < b else (b, a))

    vecs = {}
    norms = {}
    for nm in {n for p in pairs for n in p}:
        v = [float(x) for x in embed_text(nm)]  # float32 → double cast
        acc = 0.0
        for x in v:
            acc = acc + x * x  # left-to-right, matching the HOF fold
        vecs[nm] = v
        norms[nm] = math.sqrt(acc)

    linked: list = []
    for a, b in pairs:
        denom = norms[a] * norms[b]
        if denom == 0.0:
            continue  # cosine defined as 0.0 < threshold
        dot = 0.0
        for x, y in zip(vecs[a], vecs[b]):
            dot = dot + x * y
        if dot / denom >= THRESHOLD:
            linked.append((a, b))

    import re

    def _initials(nm: str) -> str:
        return "".join(p[:1] for p in re.split(r"\s+", nm)).upper()

    by_initials: dict = defaultdict(list)
    for nm in names_list:
        by_initials[_initials(nm)].append(nm)
    for nm in names_list:
        if " " in nm:
            continue
        for exp in by_initials.get(nm.upper(), ()):  # noqa: B909
            if exp != nm:
                linked.append((nm, exp))

    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in linked:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    comps: dict = defaultdict(list)
    for nm in {n for p in linked for n in p}:
        comps[find(nm)].append(nm)
    canon: dict = {}
    for members in comps.values():
        rep = min(members, key=lambda n: (-len(n), n))
        for nm in members:
            canon[nm] = rep
    return sorted((nm, canon.get(nm, nm)) for nm in names_list), stats


def canonical_map(
    nodes: DataFrame,
    driver_cap: int = 100_000,
    bucket_stats: dict | None = None,
) -> DataFrame:
    """nodes → (name, canonical_name) for EVERY input name (identity
    rows included), via LSH → cosine → components.

    Linking runs over DISTINCT names — a vocabulary, orders of
    magnitude smaller than the corpus — so up to ``driver_cap``
    distinct printable-ASCII names the identical pipeline runs
    driver-side (_canonical_map_driver, bit-identical by construction);
    see ``graph_support.collect_if_small``. Larger or non-ASCII
    vocabularies take the distributed operators; 0 forces them.

    The driver path hands its mapping to Spark as a pandas frame, so
    the rows cross to the JVM as Arrow batches, and fills
    ``bucket_stats`` (when given) with the ``candidate_bucket_stats``
    row of its LSH buckets. The distributed path leaves it empty."""
    names = nodes.select("name").distinct()
    probe = collect_if_small(names, driver_cap, "canonical_map")
    if probe is not None:
        names_list = probe["name"].tolist()
        if all(
            isinstance(nm, str) and all(32 <= ord(c) < 127 for c in nm)
            for nm in names_list
        ):
            import pandas as pd
            from pyspark.sql import types as T

            out, stats = _canonical_map_driver(names_list)
            if bucket_stats is not None:
                bucket_stats.update(stats)
            dt = names.schema["name"].dataType
            return nodes.sparkSession.createDataFrame(
                pd.DataFrame(out, columns=["name", "canonical_name"]),
                T.StructType(
                    [
                        T.StructField("name", dt),
                        T.StructField("canonical_name", dt),
                    ]
                ),
            )
        log.info("canonical_map: non-ASCII names -> distributed path")
    pairs = score_pairs(candidate_pairs(names), names).select(
        "name_a", "name_b"
    ).unionByName(abbreviation_pairs(names)).distinct()
    comp = connected_components(pairs, src="name_a", dst="name_b")
    # canonical surface form = the LONGEST member of the component
    # (ties: lexicographically smallest). The component label itself is
    # the min member, which for an abbreviation link is the ABBREVIATION
    # ("AI" < "Artificial Intelligence") — the reference's semantics
    # remove the abbreviation in favor of the expansion
    # (matching.py:38-59), so the representative is re-elected here.
    rep = comp.groupBy("component").agg(
        F.min(
            F.struct(
                (-F.length("node")).alias("_nl"), F.col("node").alias("_n")
            )
        ).alias("_r")
    ).select("component", F.col("_r._n").alias("_canon"))
    mapped = (
        names.join(comp.withColumnRenamed("node", "name"), "name", "left")
        .join(rep, "component", "left")
        .select(
            "name", F.coalesce("_canon", F.col("name")).alias("canonical_name")
        )
    )
    return mapped


def canonicalize_graph(
    nodes: DataFrame,
    edges: DataFrame,
    mapping: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Rewrite nodes/edges onto canonical names and re-merge groups.

    The re-merge reuses the same algebraic aggregates as graph_build
    (unions of provenance, sum of weights) so the output shape is
    unchanged. Undirected edge keys are re-sorted after rewrite; edges
    that collapse into self-loops are dropped (reference graphs are
    simple undirected graphs).
    """
    from .graph_build import MAX_DESCRIPTIONS, MAX_SOURCE_CHUNKS

    def _capped_merge(col, k):
        return F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list(col)))), 1, k
        )

    m = mapping
    nodes_c = (
        nodes.join(m, "name")
        .groupBy(F.col("canonical_name").alias("name"))
        .agg(
            F.array_min(F.collect_set("type")).alias("type"),
            F.concat_ws(
                GRAPH_FIELD_SEP,
                _capped_merge(F.split("description", GRAPH_FIELD_SEP), MAX_DESCRIPTIONS),
            ).alias("description"),
            _capped_merge(F.col("source_chunk_ids"), MAX_SOURCE_CHUNKS).alias(
                "source_chunk_ids"
            ),
            F.sum("mention_count").alias("mention_count"),
            # upper bound after merging groups (chunk sets may overlap
            # across merged surface forms); exact value would need a
            # re-count over mentions — documented approximation
            F.sum("chunk_count").alias("chunk_count"),
        )
    )
    src_map = m.select(F.col("name").alias("src"), F.col("canonical_name").alias("_csrc"))
    tgt_map = m.select(F.col("name").alias("tgt"), F.col("canonical_name").alias("_ctgt"))
    edges_c = (
        edges.join(src_map, "src")
        .join(tgt_map, "tgt")
        .where(F.col("_csrc") != F.col("_ctgt"))
        .select(
            F.least("_csrc", "_ctgt").alias("src"),
            F.greatest("_csrc", "_ctgt").alias("tgt"),
            "weight",
            "keywords",
            "description",
            "source_chunk_ids",
            "chunk_count",
        )
        .groupBy("src", "tgt")
        .agg(
            F.sum("weight").alias("weight"),
            F.concat_ws(
                GRAPH_FIELD_SEP,
                F.array_sort(
                    F.array_distinct(
                        F.flatten(F.collect_list(F.split("keywords", GRAPH_FIELD_SEP)))
                    )
                ),
            ).alias("keywords"),
            F.concat_ws(
                GRAPH_FIELD_SEP,
                _capped_merge(F.split("description", GRAPH_FIELD_SEP), MAX_DESCRIPTIONS),
            ).alias("description"),
            _capped_merge(F.col("source_chunk_ids"), MAX_SOURCE_CHUNKS).alias(
                "source_chunk_ids"
            ),
            F.sum("chunk_count").alias("chunk_count"),
        )
    )
    return nodes_c, edges_c
