"""Web host-link graph construction — the kg-construction surface for
crawled corpora.

Turns a page table (page URL + body text) into a weighted host→host
edge list by composing the engine's existing primitives: the
reference's URL regex (P11,
graphrag_kb_server/service/link_extraction_service.py:80-104, mirrored
in operators/textstats.extract_links) finds outbound links, and the
domain normalizer (operators/sampling.url_domain) collapses URLs to
registrable hosts. The result feeds straight into
:func:`~graphrag_kb_server_spark.operators.centrality.pagerank` — the
classic web-graph ranking loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import url_domain
from .textstats import extract_links

__all__ = ["host_graph", "host_pagerank"]


def host_graph(docs: DataFrame) -> DataFrame:
    """Pages(url, text) → weighted host-level link graph:
    ``(src_host, dst_host, weight)``
    where ``weight`` counts distinct (page, outbound URL) pairs —
    ``extract_links`` dedups URLs within a page, so one page spamming
    the same link 50 times contributes 1. Intra-host links are dropped
    (the standard host-graph convention; they would only hoard rank).

    Shape at 100 TB: link extraction and domain collapse are row-local
    regexps (codegen'd); the ONE exchange is the (src, dst) count with
    map-side partial aggregation — a hub host pair on 10^9 pages
    reduces to one row per partition before it shuffles. The output is
    |hosts|²-bounded but Zipf-sparse in practice — orders of magnitude
    smaller than the page table.
    """
    links = docs.select(
        url_domain(F.col("url")).alias("src_host"),
        F.explode(extract_links(F.col("text"))).alias("_u"),
    ).select("src_host", url_domain(F.col("_u")).alias("dst_host"))
    return (
        links.where(F.col("src_host") != F.col("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).cast("bigint").alias("weight"))
    )


def host_cocitation(docs: DataFrame) -> DataFrame:
    """Pages(url, text) → host co-citation graph:
    ``(host_a, host_b, weight)`` with ``weight`` = number of pages whose
    outbound links hit BOTH hosts (a < b; the page's own host excluded,
    matching ``host_graph``). Co-citation is the classic relatedness
    signal (Small 1973) — two hosts repeatedly cited together are
    topically close even if they never link each other.

    Shape: the per-page distinct host list is the same row-local
    extract+collapse ``host_graph`` uses; the pair expansion is a
    self-join ON THE PAGE KEY, so a page citing h hosts contributes
    C(h,2) rows — bounded by the per-page link count, never by corpus
    size — and the final count is one partial-agg exchange on the
    (a, b) pair.
    """
    cites = (
        docs.select(
            F.col("url").alias("_page"),
            url_domain(F.col("url")).alias("_own"),
            F.explode(extract_links(F.col("text"))).alias("_u"),
        )
        .select(
            "_page", "_own", url_domain(F.col("_u")).alias("_h")
        )
        .where(F.col("_h") != F.col("_own"))
        .select("_page", "_h")
        .distinct()
    )
    rhs = cites.select(F.col("_page"), F.col("_h").alias("_h2"))
    return (
        cites.join(rhs, "_page")
        .where(F.col("_h") < F.col("_h2"))
        .groupBy(F.col("_h").alias("host_a"), F.col("_h2").alias("host_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("weight"))
    )


def host_pagerank(docs: DataFrame) -> DataFrame:
    """Pages → host graph → weighted PageRank, one composition.
    Returns ``(name, rank)`` over every host that appears as a link
    source or target. See :func:`host_graph` and
    :func:`~graphrag_kb_server_spark.operators.centrality.pagerank`
    for the plan shapes."""
    from .centrality import pagerank

    return pagerank(
        host_graph(docs), src="src_host", dst="dst_host", weight="weight"
    )
