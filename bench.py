"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the host's
CPU count) and prints ONE JSON line:
{"metric", "value", "unit": "sec", "queries": {...}, "sf": ...}.

Headline #1 is the north-rule metric: end-to-end KG indexing throughput
(docs/sec) of ``run_index`` over the deterministic synthetic web_pages
corpus, each pass from an empty directory (extract text → chunk →
extract triples → merge → link/canonicalize → degrees → embeddings →
doc_status, every stage table written). The corpus size scales with the
sf dir (sf0.1 → 5000 docs, BENCH_DOCS env overrides). Remaining queries
are the oracle-checked operator suite over the driver tables, each
forced through a full evaluation with the noop sink (no driver
collect), plus the ONLINE query path (kg_query hybrid/mix +
answer_query — the reference's primary serving surface,
lightrag_search.py:330-597) over the KB the last timed ``run_index``
pass wrote.

Variance control (VERDICT r2): every timing is the MIN of
$BENCH_REPEATS runs (default 2) — the hypervisor on this box shows
0-55%% CPU steal, so single-shot numbers are not comparable across
rounds; the JSON records every repeat plus the run-level host steal%%
so regressions can be told apart from noise.

Idle gate (VERDICT r4): the r4 artifact pinned t4_entity_merge at
22.7s purely because leftover Spark JVMs from a prior run kept
loadavg at 5+. Before timing anything, bench now (a) refuses to start
while any OTHER SparkSubmit JVM is alive, (b) spins until 1-min
loadavg drops below $BENCH_IDLE_LOAD (default 1.5, ~5-min timeout,
then proceeds with a recorded violation), and (c) records the loadavg
observed at the start of every repeat next to the timing, so a noisy
repeat is attributable from the artifact alone. Volatile entries
(kg_run_index, t4_entity_merge) always run max(repeats, 3) times.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import time
from functools import partial
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from graphrag_kb_server_spark import corpus as corpus_mod
from graphrag_kb_server_spark.functions import text as TXT
from graphrag_kb_server_spark.operators.graph_build import build_edges
from graphrag_kb_server_spark.plans.index_pipeline import run_index
from graphrag_kb_server_spark.plans.query_pipeline import (
    GraphTables,
    QueryParams,
    answer_query,
    kg_query,
)
from graphrag_kb_server_spark.session import get_spark

BENCH_QUERIES = [
    "t4_entity_merge",
    "t5_edge_merge",
    "q2_cosine_topk",
    "ann_batch_topk",
    "dedup_minhash_signature",
    "dedup_jaccard_pairs",
    "dedup_embedding_pairs",
    "text_quality",
    "text_lang_id",
    "s_windowed_events",
    "s_sessionize",
    "g1_degree_centrality",
    "g1_betweenness_s16",
    "g2_lpa_communities",
    # training-data curation family (r5)
    "sample_stratified",
    "text_domain_stats",
    "sample_domain_cap",
    "text_lm_perplexity",
    "cluster_kmeans",
    "g6_triangles",
    "text_pmi_collocations",
    "text_bm25_topk",
    "text_trigram_backoff",
]

# entries whose r3→r4 history showed >3x run-to-run spread on this
# box; they always get >=3 repeats so min-of-N converges on warm cost
VOLATILE_QUERIES = {"t4_entity_merge", "g2_lpa_communities"}

#: seconds idle_gate waits for a quiet box before it gives up
IDLE_TIMEOUT_S = 300.0
#: sentences per page of the bench corpus (~4 KB of text per page)
CORPUS_SENT_RANGE = (24, 72)


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _foreign_spark_jvms() -> list[int]:
    """PIDs of SparkSubmit JVMs that do NOT belong to this process tree
    (a leftover JVM competing for cores invalidates every timing)."""
    me = os.getpid()
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit() or int(p) == me:
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read().decode("utf-8", "replace")
        except OSError:
            continue
        if "SparkSubmit" in cmd or "spark-submit" in cmd:
            # skip our own child JVM: walk the parent chain to me
            try:
                pp = int(p)
                mine = False
                for _ in range(10):
                    with open(f"/proc/{pp}/stat") as f:
                        pp = int(f.read().split()[3])
                    if pp == me:
                        mine = True
                        break
                    if pp <= 1:
                        break
                if not mine:
                    pids.append(int(p))
            except (OSError, ValueError):
                pids.append(int(p))
    return pids


def idle_gate(max_load: float) -> dict:
    """Block until the box is quiet; returns evidence for the artifact.

    Hard-fails only on foreign Spark JVMs that persist the whole
    timeout (those never go away by waiting and make numbers
    meaningless); a merely-high loadavg times out soft with
    violated=True so unattended driver runs still produce an artifact
    — but one that SAYS it was measured on a loaded box.
    """
    t0 = time.time()
    while True:
        load = _loadavg1()
        jvms = _foreign_spark_jvms()
        if load < max_load and not jvms:
            return {
                "gated_seconds": round(time.time() - t0, 1),
                "start_loadavg1": load,
                "violated": False,
            }
        if time.time() - t0 > IDLE_TIMEOUT_S:
            if jvms:
                print(
                    f"bench: FATAL — foreign Spark JVMs alive after "
                    f"{IDLE_TIMEOUT_S:.0f}s idle wait: {jvms}. Kill them and "
                    f"re-run; refusing to pin numbers against them.",
                    file=sys.stderr,
                )
                sys.exit(3)
            return {
                "gated_seconds": round(time.time() - t0, 1),
                "start_loadavg1": load,
                "violated": True,
            }
        time.sleep(5.0)


def _cpu_jiffies() -> dict[str, int]:
    """Aggregate /proc/stat counters — steal% tells hypervisor noise
    apart from real regressions."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = list(map(int, parts[1:]))
    return {"steal": vals[7], "total": sum(vals)}


def _ensure_corpus(spark, n_docs: int) -> str:
    """Bench corpus: Common-Crawl-realistic page sizes (~4 KB of text),
    same deterministic generator as the fixtures. Written once and
    reused across runs, so every run indexes identical input. The
    directory is named after ``n_docs`` and a digest of the generator's
    source, so a change to ``corpus.py`` writes a fresh corpus."""
    digest = hashlib.sha256(Path(corpus_mod.__file__).read_bytes()).hexdigest()
    path = (
        f"{Path(__file__).resolve().parent}/.data/"
        f"bench_corpus_{n_docs}_{digest[:12]}"
    )
    if not os.path.exists(f"{path}/_SUCCESS"):
        corpus_mod.generate(
            spark, n_docs, n_partitions=64, sent_range=CORPUS_SENT_RANGE
        ).write.mode("overwrite").parquet(path)
    return path


def bench_run_index(spark, pages, out: str) -> float:
    """Seconds of one ``run_index`` pass over ``pages`` into ``out``,
    which is emptied first, outside the timed region, so every stage
    is built and written."""
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    run_index(spark, pages, out)
    return time.time() - t0


def bench_query_path(
    spark, kb_dir: str, repeats: int
) -> tuple[dict[str, list[float]], dict[str, dict[str, float]], float | None]:
    """Online-surface latency: kg_query (hybrid + mix) and answer_query
    end-to-end over the KB in ``kb_dir`` — stage 1-4 including the
    driver-side context collects, exactly what a serving request pays.
    A fresh query string per repeat defeats the LLM cache so every
    repeat is a cold answer. Also returns the median
    ``QueryContext.stage_s`` per kg_query mode and stage, and the wall
    seconds of the KB's driver snapshot build, which the first request
    pays (None when the KB is over the snapshot cap)."""
    g = GraphTables.from_index(spark, kb_dir)
    hub = g.nodes.orderBy(F.desc("mention_count"), "name").first()["name"]
    out: dict[str, list[float]] = {
        "kg_query_hybrid": [], "kg_query_mix": [], "kg_answer_hybrid": [],
    }
    stages: dict[str, dict[str, list[float]]] = {"hybrid": {}, "mix": {}}
    for i in range(repeats):
        q = f"What is the relationship between {hub} and others? (run {i})"
        for mode in ("hybrid", "mix"):
            t = time.time()
            ctx = kg_query(spark, g, q, QueryParams(mode=mode, top_k=60))
            out[f"kg_query_{mode}"].append(time.time() - t)
            for stage, s in ctx.stage_s.items():
                stages[mode].setdefault(stage, []).append(s)
        t = time.time()
        answer_query(
            spark, g, q, QueryParams(mode="hybrid", top_k=60),
            cache_path=f"/tmp/bench_llm_cache_{os.getpid()}",
        )
        out["kg_answer_hybrid"].append(time.time() - t)
    medians = {
        mode: {stage: round(statistics.median(v), 4) for stage, v in per.items()}
        for mode, per in stages.items()
    }
    snap = g.snapshot(spark)  # built by the first request: no Spark work
    return out, medians, None if snap is None else round(snap.build_s, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    n_docs = int(os.environ.get("BENCH_DOCS", "5000" if sf >= 0.1 else "1000"))
    repeats = max(int(os.environ.get("BENCH_REPEATS", "2")), 1)

    idle_load = float(os.environ.get("BENCH_IDLE_LOAD", "1.5"))
    gate = idle_gate(idle_load)

    spark = get_spark("bench", cpus=cpus, shuffle_partitions=max(cpus, 8))

    j0 = _cpu_jiffies()
    t0 = time.time()

    repeat_times: dict[str, list[float]] = {}
    repeat_load: dict[str, list[float]] = {}
    repeat_steal: dict[str, list[float]] = {}
    volatile_repeats = max(repeats, 3)

    def _steal_between(a: dict, b: dict) -> float:
        return round(
            100.0 * (b["steal"] - a["steal"]) / max(b["total"] - a["total"], 1),
            1,
        )

    def timed(name: str, n: int, run) -> list[float]:
        """Call ``run`` (it returns seconds) ``n`` times and record its
        times, the 1-min loadavg before each call and the host steal%
        during each, under ``name``."""
        runs, loads, steals = [], [], []
        for _ in range(n):
            loads.append(_loadavg1())
            ja = _cpu_jiffies()
            runs.append(run())
            steals.append(_steal_between(ja, _cpu_jiffies()))
        repeat_times[name] = runs
        repeat_load[name] = loads
        repeat_steal[name] = steals
        return runs

    def noop_seconds(build) -> float:
        """Seconds to build a frame and run it into the noop sink."""
        t1 = time.time()
        _noop_write(build())
        return time.time() - t1

    index_out = f"{Path(__file__).resolve().parent}/.data/bench_index_{n_docs}"
    pages = spark.read.parquet(_ensure_corpus(spark, n_docs))
    idx_runs = timed("kg_run_index", volatile_repeats,
                     partial(bench_run_index, spark, pages, index_out))

    qs = entrymod.queries()
    for name in BENCH_QUERIES:
        n = volatile_repeats if name in VOLATILE_QUERIES else repeats
        timed(name, n, partial(noop_seconds, partial(qs[name], spark, sf_dir)))

    # G2b: Louvain-style refinement over the SAME sf-derived KG graph
    # that g2_lpa_communities benches — tracks the refinement's cost at
    # sf scale (both ops take the size-adaptive driver path here; the
    # distributed rounds are oracled separately by g2_refine_distributed)
    def _refine_kg():
        from graphrag_kb_server_spark.operators.communities import (
            label_propagation,
            modularity_refine,
        )

        m = entrymod._mentions_from_lineitem(spark, sf_dir).where(
            F.col("chunk_id").substr(-1, 1).isin("0", "5")
        )
        edges = build_edges(m)
        return modularity_refine(edges, label_propagation(edges))

    timed("g2_refine_kg", repeats, partial(noop_seconds, _refine_kg))

    # G1c: 20 PageRank power iterations over the same sf-derived KG
    # edge graph — tracks the strided-checkpoint iteration schedule's
    # cost (one contribution shuffle per round, 1 action per 5 rounds)
    def _pagerank_kg():
        from graphrag_kb_server_spark.operators.centrality import pagerank

        m = entrymod._mentions_from_lineitem(spark, sf_dir).where(
            F.col("chunk_id").substr(-1, 1).isin("0", "5")
        )
        return pagerank(build_edges(m))

    timed("g1_pagerank_kg", repeats, partial(noop_seconds, _pagerank_kg))

    # Composed curation funnel over the SAME web corpus the indexing
    # headline uses: C4 lines → repetition → quality → lang-ID → PII →
    # exact dedup, one scan + one exchange (plans/curation_pipeline).
    # Timed as kept-noop-write + stats collect — both outputs a real
    # curation job materializes.
    def _curation_e2e() -> float:
        from graphrag_kb_server_spark.plans.curation_pipeline import (
            curate_corpus,
        )

        docs = pages.select(
            F.col("url").alias("doc_id"),
            TXT.extract_text(F.col("text"), F.col("url")).alias("content"),
        )
        t1 = time.time()
        kept, stats = curate_corpus(docs, id_col="doc_id", text_col="content")
        _noop_write(kept)
        stats.collect()
        return time.time() - t1

    curation_runs = timed("curation_e2e", repeats, _curation_e2e)

    # The online query path issues many small driver actions whose
    # codegen/JIT warm-up spans the first 2-3 invocations (observed:
    # 22.5 → 5.8 → 5.4 → 4.4s on an idle box) — with 2 repeats the min
    # still lands mid-warm-up, so these always get ≥4.
    query_times, query_stages, query_snapshot_s = bench_query_path(
        spark, index_out, max(repeats, 4)
    )
    for k, v in query_times.items():
        repeat_times[k] = v
        repeat_load[k] = []
        repeat_steal[k] = []

    total = round(time.time() - t0, 3)
    j1 = _cpu_jiffies()
    steal_pct = round(
        100.0 * (j1["steal"] - j0["steal"]) / max(j1["total"] - j0["total"], 1), 1
    )

    timings = {k: round(min(v), 3) for k, v in repeat_times.items()}
    print(
        json.dumps(
            {
                "metric": "bench_total_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "repeats": {
                    k: [round(x, 3) for x in v] for k, v in repeat_times.items()
                },
                "repeat_loadavg1": {
                    k: [round(x, 2) for x in v] for k, v in repeat_load.items()
                },
                "repeat_steal_pct": repeat_steal,
                "aggregation": f"min of {repeats} repeats"
                f" ({volatile_repeats} for volatile entries)",
                "idle_gate": gate,
                "host_steal_pct": steal_pct,
                "sf": sf,
                "cpus": cpus,
                "index_docs": n_docs,
                "run_index_docs_per_sec": round(n_docs / min(idx_runs), 2),
                "curation_docs_per_sec": round(n_docs / min(curation_runs), 2),
                "query_stages": query_stages,
                "query_snapshot_s": query_snapshot_s,
            }
        )
    )


if __name__ == "__main__":
    main()
