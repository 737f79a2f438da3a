"""P1-P12 — search / personalization operators (SURVEY.md §2.5).

Reference pipeline (service/search/matching.py:62-97 +
search_documents.py:33-75): centrality-ranked candidates → LLM
match/score vs user profile → threshold filter; then document search =
hybrid kg_query → per-doc summary → relevance sort; per-topic question
generation; last-modified per file.

LLM slots (P2 scoring, P7 summaries, P10 question generation) are
deterministic stand-ins with the reference contracts; swap a model
client into the *_fn parameter.

No per-row Python anywhere: the deterministic stand-ins are pure
Catalyst expressions (codegen'd, JVM-side); a caller-supplied *_fn
(the real LLM slot) runs through an Arrow-batched ``pandas_udf`` —
never a row-at-a-time ``F.udf``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

#: P2 score floor of a kept candidate (matching.py default at :35)
MATCH_THRESHOLD = 0.5
RELEVANCE_POINTS = {  # model/search/search.py:19-25
    "very_high": 100, "high": 75, "medium": 50, "low": 25, "very_low": 0,
}


def candidate_entities(
    centrality_table: DataFrame,
    entity_types: list[str] | None = None,
    limit: int = 100,
) -> DataFrame:
    """P1 — filter by type, order by centrality desc, limit
    (matching.py:77-80)."""
    out = centrality_table
    if entity_types:
        out = out.where(F.col("entity_type").isin(entity_types))
    return out.orderBy(F.desc("centrality"), "entity_id").limit(limit)


def _score_columns(name: Column, profile: str) -> tuple[Column, Column]:
    """Deterministic P2 stand-in as pure Catalyst (codegen'd — no Python
    in the hot path): score = overlap ratio of the entity's word set
    with the profile's (split + array_distinct + array_intersect), plus
    0.5, capped at 1.0, or 0.3 with no overlap; plus an md5-prefix
    epsilon (< 0.01) for stable tie-breaks. abstraction = 'high' for
    single-word entities."""
    ew = F.array_distinct(F.split(F.trim(F.lower(name)), r"\s+"))
    pw = F.array(*[F.lit(w) for w in sorted(set(profile.lower().split()))])
    n_ew = F.greatest(F.size(ew), F.lit(1))
    overlap_cnt = F.size(F.array_intersect(ew, pw))
    overlap = overlap_cnt.cast("double") / n_ew.cast("double")
    eps = (
        F.conv(F.substring(F.md5(name), 1, 4), 16, 10).cast("double")
        / F.lit(65535.0)
        * F.lit(0.01)
    )
    score = F.when(
        overlap_cnt > 0, F.least(overlap + F.lit(0.5) + eps, F.lit(1.0))
    ).otherwise(F.lit(0.3) + eps)
    abstraction = F.when(F.size(ew) == 1, F.lit("high")).otherwise(F.lit("low"))
    return score, abstraction


def match_and_score(
    candidates: DataFrame,
    profile: str,
    score_fn=None,
) -> DataFrame:
    """P2 — score candidates against the user profile; keep score >
    ``MATCH_THRESHOLD`` (matching.py:137-179); dedup by entity name.
    Default scoring is a pure Catalyst expression; a caller-supplied
    ``score_fn`` (the LLM slot) runs Arrow-batched."""
    if score_fn is None:
        score, abstraction = _score_columns(F.col("entity_id"), profile)
        scored = candidates.withColumn("score", score).withColumn(
            "abstraction", abstraction
        )
    else:
        @pandas_udf("score double, abstraction string")
        def score_udf(names: pd.Series) -> pd.DataFrame:
            rows = [score_fn(n, profile) for n in names]
            return pd.DataFrame(rows, columns=["score", "abstraction"])

        scored = (
            candidates.withColumn("_m", score_udf(F.col("entity_id")))
            .select("*", F.col("_m.score").alias("score"),
                    F.col("_m.abstraction").alias("abstraction"))
            .drop("_m")
        )
    return scored.where(F.col("score") > MATCH_THRESHOLD).dropDuplicates(["entity_id"])


def sort_by_relevance(docs: DataFrame) -> DataFrame:
    """P6 — map the ``relevancy_score`` labels to points and sort desc
    (search_documents.py:70-75, model/search/search.py:19-25)."""
    points = F.create_map(
        *[x for k, v in RELEVANCE_POINTS.items() for x in (F.lit(k), F.lit(v))]
    )
    return docs.withColumn("_pts", points[F.col("relevancy_score")]).orderBy(
        F.desc("_pts"), "file_path"
    ).drop("_pts")


def summarize_documents(
    docs: DataFrame, profile: str, question: str, summarize_fn=None
) -> DataFrame:
    """P7 — per-doc summary LLM slot (search_documents.py:94-135);
    deterministic stand-in (pure Catalyst): first 2 sentences + question
    digest. A caller-supplied ``summarize_fn`` runs Arrow-batched."""
    if summarize_fn is None:
        head = F.concat_ws(
            ". ", F.slice(F.split(F.col("content"), r"\. "), 1, 2)
        )
        summary = F.concat(head, F.lit(f" [re: {question[:40]}]"))
        return docs.withColumn("summary", summary)

    @pandas_udf("string")
    def summarize(contents: pd.Series) -> pd.Series:
        return contents.map(summarize_fn)

    return docs.withColumn("summary", summarize(F.col("content")))


def generate_questions(
    topics: DataFrame, n_per_topic: int = 3, question_fn=None
) -> DataFrame:
    """P10 — per-topic question generation (LLM slot;
    question_generation_service.py:24-83). Deterministic stand-in
    (pure Catalyst): templated questions. A caller-supplied
    ``question_fn`` runs Arrow-batched."""
    if question_fn is None:
        templates = [
            ("What is ", "?"),
            ("How does ", " relate to other entities?"),
            ("Why is ", " significant?"),
        ]
        qs = F.array(
            *[
                F.concat(F.lit(pre), F.col("name"), F.lit(post))
                for pre, post in templates[:n_per_topic]
            ]
        )
        return topics.withColumn("questions", qs)

    @pandas_udf("array<string>")
    def qudf(names: pd.Series) -> pd.Series:
        return names.map(question_fn)

    return topics.withColumn("questions", qudf(F.col("name")))


def last_modified(web_pages_docs: DataFrame) -> DataFrame:
    """P12 — for webtext, warc_ts is the authoritative last-modified
    (replaces the reference's per-format metadata extraction,
    last_updated_service.py:24-168)."""
    # a url recrawled N times has N warc_ts rows: "authoritative" =
    # the LATEST crawl, picked deterministically (dropDuplicates kept a
    # partition-order-dependent row)
    return web_pages_docs.groupBy(F.col("url").alias("file_path")).agg(
        F.max("warc_ts").alias("last_modified")
    )
