"""In-memory span recorder for the traced benchmark run.

Spans are opened only from the benchmark's own code: around the calls it
makes into the program and, while tracing, around the program's calls
into Spark (``DataFrameWriter`` saves, ``DataFrame`` actions) and into
the linking functions as ``index_pipeline`` names them. Each span gets
its own Spark job group, so task time, shuffle and spill per span can be
read back from Spark's status store once the run is over.

``Recorder.wrapper_s`` is the time spent inside the wrappers but outside
the calls they wrap (frame walks, job-group calls, bookkeeping). The
traced-vs-untraced overhead, which also covers effects outside the
wrappers, is worked out by ``run.py`` against untraced runs.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: stage table → the module (layer) whose operator the table's write runs.
#: documents and doc_status are built by index_pipeline itself.
TABLE_LAYER = {
    "documents": "index_pipeline",
    "chunks": "chunking",
    "mentions": "extraction",
    "nodes_raw": "graph_build",
    "edges_raw": "graph_build",
    "canonical_map": "linking",
    "nodes_pre": "linking",
    "edges_pre": "linking",
    "nodes": "graph_build",
    "edges": "graph_build",
    "chunk_embeddings": "embedding",
    "entity_embeddings": "embedding",
    "relation_embeddings": "embedding",
    "doc_status": "index_pipeline",
}

_ACTIONS = ("collect", "toPandas", "first", "take", "head", "count",
            "localCheckpoint", "checkpoint", "isEmpty")


class Recorder:
    """Collects spans (name, layer, start, end, parent, thread, request)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.wrapper_s = 0.0
        self.cache_lookups = 0
        self.cache_hits = 0
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._next = 0
        self._ambient: list[dict] = []
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str, layer: str, request: str | None = None,
             ambient: bool = False, **attrs):
        stack = self._stack()
        # a span opened on a pool thread nests under the span the main
        # thread marked ambient (run_index, or the current request)
        parent = stack[-1] if stack else (self._ambient[-1] if self._ambient else None)
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {
            "id": sid, "name": name, "layer": layer,
            "parent": parent["id"] if parent else None,
            "thread": threading.get_ident(),
            "request": request or (parent["request"] if parent else None),
            **attrs,
        }
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        rec["group"] = f"perfbench-{os.getpid()}-{sid}"
        self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        if ambient:
            self._ambient.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if ambient:
                self._ambient.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)

    def _charge(self, t_enter: float, inner_s: float) -> None:
        """Count the time since ``t_enter`` minus ``inner_s`` (the wrapped
        call) as wrapper time."""
        with self._lock:
            self.wrapper_s += time.perf_counter() - t_enter - inner_s

    def call(self, fn, args: tuple, kwargs: dict, name: str, layer: str,
             t_enter: float | None = None, **attrs):
        """``fn(*args, **kwargs)`` inside a span; everything but the call
        itself, from ``t_enter`` (default: now) on, is wrapper time."""
        t_enter = time.perf_counter() if t_enter is None else t_enter
        inner = 0.0
        try:
            with self.span(name, layer, **attrs):
                t = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    inner = time.perf_counter() - t
        finally:
            self._charge(t_enter, inner)

    def plain(self, fn, args: tuple, kwargs: dict, t_enter: float):
        """``fn(*args, **kwargs)`` without a span, charging the wrapper's
        time since ``t_enter``."""
        t = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self._charge(t_enter, time.perf_counter() - t)

    def in_action(self) -> bool:
        return any(s["layer"] == "action" for s in self._stack())

    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def install(self, spark) -> None:
        """Wrap the program's calls into Spark and into the linking layer."""
        from graphrag_kb_server_spark.operators import context_ops
        from graphrag_kb_server_spark.plans import index_pipeline, query_pipeline

        rec = self

        def wrap_save(orig):
            @functools.wraps(orig)
            def save(writer, path=None, *a, **kw):
                t0 = time.perf_counter()
                table = os.path.basename(str(path).rstrip("/")) if path else "?"
                layer = TABLE_LAYER.get(table, "action")
                if layer == "action" and rec.in_action():
                    return rec.plain(orig, (writer, path, *a), kw, t0)
                return rec.call(orig, (writer, path, *a), kw, f"write:{table}",
                                layer, t_enter=t0, table=table)
            return save

        def wrap_action(orig):
            @functools.wraps(orig)
            def action(df, *a, **kw):
                t0 = time.perf_counter()
                if rec.in_action():
                    return rec.plain(orig, (df, *a), kw, t0)
                frame = sys._getframe(1)
                while frame is not None and "/pyspark/" in frame.f_code.co_filename:
                    frame = frame.f_back
                caller = (f"{os.path.basename(frame.f_code.co_filename)}:"
                          f"{frame.f_code.co_name}" if frame else "?")
                return rec.call(orig, (df, *a), kw, f"action:{orig.__name__}",
                                "action", t_enter=t0, caller=caller)
            return action

        def wrap_call(layer):
            def wrapper(orig):
                @functools.wraps(orig)
                def call(*a, **kw):
                    return rec.call(orig, a, kw, f"call:{orig.__name__}", layer)
                return call
            return wrapper

        def wrap_cache_get(orig):
            @functools.wraps(orig)
            def get(cache, key):
                t0 = time.perf_counter()
                out = orig(cache, key)
                inner = time.perf_counter() - t0
                with rec._lock:
                    rec.cache_lookups += 1
                    rec.cache_hits += out is not None
                rec._charge(t0, inner)
                return out
            return get

        df_cls = type(spark.range(1))
        writer_cls = type(spark.range(1).write)
        self._patch(writer_cls, "save", wrap_save)
        self._patch(writer_cls, "parquet", wrap_save)
        for name in _ACTIONS:
            self._patch(df_cls, name, wrap_action)
        self._patch(index_pipeline, "canonical_map", wrap_call("linking"))
        self._patch(index_pipeline, "candidate_bucket_stats", wrap_call("linking"))
        self._patch(query_pipeline, "kg_query", wrap_call("query_pipeline"))
        self._patch(context_ops.LlmCache, "get", wrap_cache_get)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # ── reading Spark's status store after the run ──────────────────────
    def attach_spark_metrics(self) -> None:
        """Fill each span with the jobs, stages and stage metrics of its own
        job group. Stage data is read once the listener bus has drained."""
        sc = self.sc
        jsc = sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Py4JJavaError:
            time.sleep(1.0)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        jvm = sc._jvm
        quantiles = sc._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        groups = {s["id"]: sorted(tracker.getJobIdsForGroup(s["group"]))
                  for s in self.spans}
        seen: set[int] = set()  # a shuffle stage reused by a later job counts once
        for s in sorted(self.spans, key=lambda s: groups[s["id"]][:1] or [-1]):
            jobs = groups[s["id"]]
            stages = []
            for j in jobs:
                info = tracker.getJobInfo(j)
                stages.extend(info.stageIds if info else [])
            m = {"jobs": len(jobs), "stages": 0, "task_s": 0.0,
                 "shuffle_bytes": 0, "spill_bytes": 0, "skew": 1.0}
            for sid in sorted(set(stages) - seen):
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # skipped stage: never submitted
                if str(st.status()) != "COMPLETE":
                    continue
                m["stages"] += 1
                m["task_s"] += st.executorRunTime() / 1000.0
                m["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                m["spill_bytes"] += st.diskBytesSpilled()
                if s["layer"] == "graph_build" and st.numTasks() > 1:
                    summ = store.taskSummary(sid, st.attemptId(), quantiles)
                    if summ.isDefined():
                        rt = summ.get().executorRunTime()
                        med, mx = rt.apply(0), rt.apply(1)
                        if med > 0:
                            m["skew"] = max(m["skew"], mx / med)
            s.update(m)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def subtree(spans: list[dict], root_id: int) -> list[dict]:
    """All spans below ``root_id`` (excluding the root)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k["id"])
    return out


def _sum(spans: list[dict], key: str) -> float:
    return float(sum(s.get(key, 0) for s in spans))


def _median(vals: list[float]) -> float:
    v = sorted(vals)
    if not v:
        return 0.0
    mid = len(v) // 2
    return v[mid] if len(v) % 2 else (v[mid - 1] + v[mid]) / 2


def layer_metrics(rec: Recorder, index_span: dict | None,
                  request_spans: list[dict], session_s: float,
                  index_tables: dict) -> dict[str, float]:
    """Per-layer numbers from the recorded spans (see BENCHMARK.json)."""
    spans = rec.spans
    out: dict[str, float] = {"session.start_s": session_s}

    idx = subtree(spans, index_span["id"]) if index_span else []
    index_wall = index_span["end"] - index_span["start"] if index_span else 0.0

    def layer(name: str, pred=None) -> list[dict]:
        return [s for s in idx if s["layer"] == name and (pred is None or pred(s))]

    def with_children(ss: list[dict]) -> list[dict]:
        return ss + [c for s in ss for c in subtree(spans, s["id"])]

    for name in ("chunking", "extraction", "graph_build", "embedding"):
        ss = layer(name)
        out[f"{name}.wall_s"] = union_s([(s["start"], s["end"]) for s in ss])
        out[f"{name}.task_s"] = _sum(with_children(ss), "task_s")
    rows = index_tables.get("rows", {})
    out["extraction.mentions_per_chunk"] = (
        rows.get("mentions", 0) / rows["chunks"] if rows.get("chunks") else 0.0)
    gb = with_children(layer("graph_build"))
    out["graph_build.shuffle_mb"] = _sum(gb, "shuffle_bytes") / 1e6
    out["graph_build.spill_mb"] = _sum(gb, "spill_bytes") / 1e6
    out["graph_build.task_skew"] = max([s.get("skew", 1.0) for s in gb] or [1.0])
    out["embedding.rows"] = float(sum(rows.get(t, 0) for t in (
        "chunk_embeddings", "entity_embeddings", "relation_embeddings")))

    calls = [s for s in idx if s["layer"] == "linking" and s["name"].startswith("call:")]
    # candidate_bucket_stats is lazy; index_pipeline's build_mapping runs
    # its one eager action right after the call returns
    calls += [s for s in idx if s["layer"] == "action"
              and s.get("caller", "").endswith("index_pipeline.py:build_mapping")]
    out["linking.call_s"] = union_s([(s["start"], s["end"]) for s in calls])
    out["linking.call_share"] = out["linking.call_s"] / index_wall if index_wall else 0.0
    writes = [s for s in idx if s["layer"] == "linking" and s["name"].startswith("write:")]
    out["linking.write_s"] = union_s([(s["start"], s["end"]) for s in writes])
    out["linking.names_in"] = float(index_tables.get("names_in", 0))
    out["linking.names_merged"] = float(index_tables.get("names_merged", 0))

    top = [s for s in idx if s["parent"] == (index_span or {}).get("id")]
    out["index_pipeline.self_s"] = index_wall - union_s(
        [(s["start"], s["end"]) for s in top])
    everything = ([index_span] if index_span else []) + idx
    out["index_pipeline.spark_jobs"] = _sum(everything, "jobs")
    out["index_pipeline.spark_stages"] = _sum(everything, "stages")
    out["index_pipeline.bytes_written"] = float(index_tables.get("bytes", 0))

    per_kind: dict[str, list[dict]] = {}
    action_s, driver_s, task_s, answer_s = [], [], [], []
    for r in request_spans:
        sub = [r] + subtree(spans, r["id"])
        acts = [s for s in sub if s["layer"] == "action"]
        a_s = union_s([(s["start"], s["end"]) for s in acts])
        wall = r["end"] - r["start"]
        action_s.append(a_s)
        driver_s.append(wall - a_s)
        task_s.append(_sum(sub, "task_s"))
        per_kind.setdefault(r["kind"], []).append({
            "actions": len(acts), "jobs": _sum(sub, "jobs"),
            "stages": _sum(sub, "stages")})
        if r["kind"] == "answer":
            kg = [s for s in sub if s["name"] == "call:kg_query"]
            answer_s.append(wall - sum(s["end"] - s["start"] for s in kg))
    for kind in ("hybrid", "mix", "answer"):
        rs = per_kind.get(kind, [])
        for key in ("actions", "jobs", "stages"):
            metric = {"jobs": "spark_jobs", "stages": "spark_stages"}.get(key, key)
            out[f"query_pipeline.{metric}.{kind}"] = _median([x[key] for x in rs])
    out["query_pipeline.action_s"] = _median(action_s)
    out["query_pipeline.driver_s"] = _median(driver_s)
    out["query_pipeline.task_s"] = _median(task_s)
    out["context_ops.answer_s"] = _median(answer_s)
    out["context_ops.cache_hit_ratio"] = (
        rec.cache_hits / rec.cache_lookups if rec.cache_lookups else 0.0)
    out["trace.wrapper_s"] = rec.wrapper_s
    return out
