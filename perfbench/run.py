"""Benchmark for the KG engine's two user-facing jobs: indexing and serving.

Usage (from the repository root):

    python3 perfbench/run.py --workload query_serve --seed 1 --seconds 10 --trace 0

Each run builds its seeded inputs (cached under ``perfbench/.cache``),
waits until no Spark process of an earlier run is left, then starts
``worker.py`` in a fresh process with its own Spark local dirs, temp dir
and output dir. On a traced run, while the worker runs, this process
samples the resident memory of the worker's whole process tree (driver
Python, JVM, Python workers) from ``/proc``. The last line of stdout is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 1`` the metrics are the per-layer numbers from the span recorder
in ``tracing.py`` instead of the end-to-end ones. The line before it holds
the run's details: round and request latencies, load and CPU steal,
output hashes. Metric units come from BENCHMARK.json.

Workloads (see BENCHMARK.json for why each exists):

* ``query_serve`` — the hub corpus (``corpus.row``, Zipf 1.2 over ~560
  names, ~4 KB pages). Set-up starts Spark and builds the KB with
  ``run_index``; the timed phase is one closed-loop client sending rounds
  of ``kg_query`` hybrid, ``kg_query`` mix and ``answer_query`` hybrid
  requests, one after another, for ``--seconds``.
* ``index_wide`` — a corpus drawn from a 150k-name vocabulary with flat
  skew (Zipf 0.6). Set-up starts Spark; the timed phase is one
  ``run_index`` pass, in which entity linking is the largest layer, then
  the same closed loop of requests against the KB it built.

Every run does both jobs, so every end-to-end metric is measured on both
workloads: ``query_serve``'s index figures come from its set-up build.
A timed phase lasts at least ``--seconds`` and always covers whole
operations: one index pass and at least one round of requests.
``query_round_s`` is the median wall time of a run's rounds. At today's
speed a round takes longer than ``--seconds``, so a run serves one round,
from a JVM whose only warm-up is the index pass; the latency of each
request is printed in the detail line, not as a metric, because one
cold sample per kind cannot resolve a change within the bound.

Every untraced run that passes its checks appends its traced work (index
pass plus the first round of requests) to
``.cache/untraced-<workload>.jsonl``. A traced run reports its overhead
against the median of those records for the same seed, or for the
workload when the seed has none; when the workload has none, it first
makes one with an untraced run of its own.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

from inputs import REQUEST_PERIOD, ensure_corpus  # noqa: E402

WORKLOADS = {
    "query_serve": {"generator": "hub", "docs": 100, "sent_range": (24, 72),
                    "kb_in_setup": True},
    "index_wide": {"generator": "wide", "docs": 40, "sent_range": (40, 80),
                   "kb_in_setup": False},
}
# local[2] on this benchmark's 4-vCPU host: the JIT compiler, GC and
# driver threads keep two vCPUs; local[4] gave slower passes
CPUS = 2
DRIVER_MEM = "2g"        # fixed driver heap (Xms = Xmx), fits a 15 GiB host
RUN_LIMIT_S = 170        # a run must end within 180 s, workers included
PINS = HERE / "pins.json"


def _proc_stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def session_pids(sid: int) -> list[str]:
    """Live PIDs in session ``sid`` (the worker and everything it started);
    zombies are skipped, they hold no memory and cannot be stopped."""
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _proc_stat(pid)
            if st and int(st[3]) == sid and st[0] != "Z":
                out.append(pid)
    return out


def rss_by_kind(pids: list[str]) -> dict[str, int]:
    """Resident bytes of ``pids``, summed per kind: the JVM, the Python
    workers Spark forks, and the measured driver process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {"jvm": 0, "python_workers": 0, "driver": 0}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except (OSError, IndexError, ValueError):
            continue
        kind = ("jvm" if b"java" in cmd.split(b"\0")[0] else
                "driver" if b"worker.py" in cmd else "python_workers")
        out[kind] += rss
    return out


def spark_pids() -> list[str]:
    """Spark JVMs and PySpark workers alive in this container."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().decode("utf-8", "replace")
        except OSError:
            continue
        if "SparkSubmit" in cmd or "pyspark.daemon" in cmd or "pyspark/daemon" in cmd:
            out.append(pid)
    return out


def idle_gate(timeout_s: float = 60.0) -> dict:
    """Wait until no Spark process from an earlier run is alive, so one
    Spark process tree runs at a time. Load average is recorded, not gated
    on: it decays for minutes after any run."""
    t0 = time.time()
    while spark_pids() and time.time() - t0 < timeout_s:
        time.sleep(0.5)
    return {"gated_s": round(time.time() - t0, 2), "violated": bool(spark_pids())}


def cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:]))
    return vals[7], sum(vals)


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_worker(spec: dict, run_dir: Path, timeout_s: float) -> tuple[int, dict, float]:
    """Start the worker in its own session and, on a traced run, sample the
    session's RSS while it runs; then stop every process it started.
    Returns (exit code, peak RSS bytes in total and per kind at that moment,
    spawn time)."""
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), env.get("PYTHONPATH", "")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "OMP_NUM_THREADS": "1",
        # few glibc arenas: the JVM's native memory (Arrow buffers, codecs)
        # otherwise grows with thread interleaving, which makes RSS noisy
        "MALLOC_ARENA_MAX": "2",
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "TMPDIR": str(run_dir / "tmp"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    })
    spec_path = run_dir / "spec.json"
    spec_path.write_text(json.dumps(spec))
    peak: dict[str, float] = {"total": 0}
    with open(run_dir / "worker.log", "wb") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), str(spec_path)],
            cwd=str(ROOT), env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        sid = proc.pid
        try:
            deadline = t_spawn + timeout_s
            while proc.poll() is None and time.time() < deadline:
                # RSS is a per-layer metric: untraced runs do not scan /proc,
                # so the harness takes no CPU from the measured process
                if spec["trace"]:
                    kinds = rss_by_kind(session_pids(sid))
                    if sum(kinds.values()) > peak["total"]:
                        peak = {"total": sum(kinds.values()), **kinds,
                                "at_s": time.time() - t_spawn}
                time.sleep(0.1 if spec["trace"] else 0.5)
        finally:
            spec["exit_at"] = time.time()
            # the worker is gone, overdue or interrupted: stop its JVM and
            # Python workers and wait until every process of the session ended
            if proc.poll() is None:
                os.killpg(sid, signal.SIGKILL)
            code = proc.wait()
            while pids := session_pids(sid):
                for pid in pids:
                    try:
                        os.kill(int(pid), signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                time.sleep(0.05)
    spec["drained_at"] = time.time()
    return code, peak, t_spawn


def measure(workload: str, seed: int, seconds: float, trace: int,
            corpus: tuple[Path, dict], deadline: float) -> dict | None:
    """One worker run in a fresh process; its raw result plus the harness's
    own readings, or None (with the worker's log on stderr) if it failed."""
    wl = WORKLOADS[workload]
    corpus_path, meta = corpus
    gate = idle_gate()
    run_dir = HERE / ".runs" / f"{workload}-{seed}-{os.getpid()}-{trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp"):
        (run_dir / sub).mkdir(parents=True)
    trace_dir = HERE / ".traces"
    trace_dir.mkdir(exist_ok=True)
    spec = {
        "run_dir": str(run_dir), "corpus": str(corpus_path),
        "urls": meta["urls"], "generator": wl["generator"],
        "kb_in_setup": wl["kb_in_setup"], "seed": seed,
        "seconds": seconds, "trace": trace, "cpus": CPUS,
        "result": str(run_dir / "result.json"),
        "trace_file": str(trace_dir / f"{workload}-s{seed}.json"),
    }
    load0, (steal0, total0) = loadavg1(), cpu_jiffies()
    try:
        code, peak, t_spawn = run_worker(spec, run_dir, deadline - time.time())
        steal1, total1 = cpu_jiffies()
        if code != 0 or not (run_dir / "result.json").exists():
            log = (run_dir / "worker.log").read_text(errors="replace")
            sys.stderr.write(log[-4000:])
            print(f"perfbench: worker exited with {code}", file=sys.stderr)
            return None
        res = json.loads((run_dir / "result.json").read_text())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    res.update(
        t_spawn=t_spawn, peak=peak, gate=gate, exit_at=spec["exit_at"],
        drained_at=spec["drained_at"], loadavg1_start=load0, loadavg1_end=loadavg1(),
        steal_pct=100.0 * (steal1 - steal0) / max(total1 - total0, 1))
    return res


def work_s(res: dict) -> float:
    """The work the tracer wraps in every run: the index pass and the first
    round of requests."""
    return res["index_s"] + res["rounds_s"][0]


def records_path(workload: str) -> Path:
    return HERE / ".cache" / f"untraced-{workload}.jsonl"


def reference_work_s(workload: str, seed: int) -> tuple[float, str] | None:
    """Median work_s of the recorded untraced runs of this seed, else of
    this workload; None when there are none."""
    path = records_path(workload)
    recs = [json.loads(x) for x in path.read_text().splitlines()] if path.exists() else []
    same = [r["work_s"] for r in recs if r["seed"] == seed]
    if same:
        return statistics.median(same), f"median of {len(same)} untraced runs, same seed"
    if recs:
        return (statistics.median(r["work_s"] for r in recs),
                f"median of {len(recs)} untraced runs, other seeds")
    return None


def check(res: dict, pins: dict | None) -> tuple[int, list[str]]:
    """Compare the outputs with the pins; count the failed operations (the
    index pass and each request)."""
    idx = res["index"]
    index_problems = list(idx["problems"])
    if pins:
        bad = [t for t, h in idx["hashes"].items() if pins["tables"].get(t) != h]
        if bad:
            index_problems.append(f"table hash differs from the pin: {bad}")
    failed = int(bool(index_problems))
    for r in res["requests"]:
        if pins:
            pinned = pins["requests"].get(str(r["i"] % REQUEST_PERIOD))
            if pinned is None:
                r["problems"].append("no pinned context hash for this request")
            elif pinned != r["hash"]:
                r["problems"].append("context hash differs from the pin")
        failed += bool(r["problems"])
    return failed, index_problems


def main() -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    # a terminated run still stops its worker and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}

    corpus = ensure_corpus(wl["generator"], args.seed, wl["docs"], wl["sent_range"])
    meta = corpus[1]
    pins = json.loads(PINS.read_text()).get(args.workload, {}).get(str(args.seed)) \
        if PINS.exists() else None
    deadline = t_start + RUN_LIMIT_S

    def record(res: dict) -> None:
        records_path(args.workload).parent.mkdir(exist_ok=True)
        with open(records_path(args.workload), "a") as f:
            f.write(json.dumps({"seed": args.seed, "work_s": work_s(res)}) + "\n")

    reference = None
    if args.trace:
        reference = reference_work_s(args.workload, args.seed)
        if reference is None:
            ref = measure(args.workload, args.seed, args.seconds, 0, corpus, deadline)
            if ref is None or check(ref, pins)[0]:
                print("perfbench: the untraced reference run failed", file=sys.stderr)
                return 1
            record(ref)
            reference = reference_work_s(args.workload, args.seed)
    res = measure(args.workload, args.seed, args.seconds, args.trace, corpus, deadline)
    if res is None:
        return 1
    failed, index_problems = check(res, pins)
    if not args.trace and not failed:
        record(res)

    attempted = 1 + len(res["requests"])
    by_kind: dict[str, list[float]] = {}
    for r in res["requests"]:
        by_kind.setdefault(r["kind"], []).append(r["latency_s"])
    idx = res["index"]
    peak, t_spawn = res["peak"], res["t_spawn"]
    if args.trace:
        ref_s, ref_what = reference
        overhead = work_s(res) - ref_s
        values = {**res["layers"], "process.peak_rss_mb": peak["total"] / 2**20,
                  "trace.overhead_s": overhead, "trace.overhead_ratio": overhead / ref_s}
    else:
        values = {
            "setup_s": res["ready"] - t_spawn,
            "success_ratio": (attempted - failed) / attempted,
            "index_docs_per_s": meta["docs"] / res["index_s"],
            "index_bytes_per_input_byte": idx["bytes"] / meta["text_bytes"],
            "query_round_s": statistics.median(res["rounds_s"]),
        }
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    detail = {
        "workload": args.workload, "seed": args.seed, "docs": meta["docs"],
        "input_text_bytes": meta["text_bytes"], "index_s": res["index_s"],
        "session_s": res["session_s"], "timed_wall_s": res["timed_wall_s"],
        "work_s": work_s(res), "check_s": res["check_s"],
        "worker_start_s": res["main_at"] - t_spawn,
        "worker_exit_s": res["exit_at"] - res["end_at"],
        "drain_s": res["drained_at"] - res["exit_at"],
        "rounds_s": res["rounds_s"],
        "latency_s": {k: {"p50": statistics.median(v), "max": max(v), "n": len(v)}
                      for k, v in by_kind.items()},
        "pinned": bool(pins),
        "loadavg1_start": res["loadavg1_start"], "loadavg1_end": res["loadavg1_end"],
        "steal_pct": res["steal_pct"], "idle_gate": res["gate"],
        "peak_rss": ({k: v if k == "at_s" else v / 2**20 for k, v in peak.items()}
                     if args.trace else None),
        "trace_reference": reference[1] if reference else None,
        "index_problems": index_problems,
        "request_problems": {r["i"]: r["problems"] for r in res["requests"] if r["problems"]},
        "hashes": {"tables": idx["hashes"],
                   "requests": {str(r["i"]): r["hash"] for r in res["requests"]}},
        "rows": idx["rows"], "names_in": idx["names_in"],
        "names_merged": idx["names_merged"],
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
