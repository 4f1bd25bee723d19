"""Spans, catalog and engine wrappers, Spark event-log attribution, and the
process-tree readings (memory, the processes to stop) used by the benchmark.

Spans are recorded only here, around calls into the program's public
functions: the wrappers below replace attributes on objects the benchmark
created (an engine's ``catalog``, its ``run_round``), never program code.
A disabled tracer records nothing and wraps nothing, so untraced runs time
the program as users call it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

# catalog methods that write or rewrite state; reads pass through unwrapped
CATALOG_WRITES = (
    "create_or_replace", "append", "append_deletes", "compact", "write_rows",
    "merge_upsert", "rollback_to", "drop",
)


class Tracer:
    """In-memory span log: (id, name, tag, parent, start, end).

    ``tag`` carries the table of a catalog call or the op id of a round or
    query. Spans opened on worker threads (the engine commits its state
    tables from a thread pool) have no parent on their own thread; they are
    parented to the innermost span open on the main thread, which is the
    call that started the pool."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._next_id = 1

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, tag: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {"id": sid, "name": name, "tag": tag, "parent": parent,
               "start": time.time(), "end": None}
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn, tag_fn=None):
        if not self.enabled:
            return fn

        def wrapped(*args, **kwargs):
            with self.span(name, tag_fn(*args, **kwargs) if tag_fn else None):
                return fn(*args, **kwargs)

        return wrapped

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


class TracedCatalog:
    """Proxy over a ``tables.TableCatalog``: every write method runs inside
    a ``tables.<method>`` span tagged with the table name."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, attr):
        value = getattr(self._inner, attr)
        if attr not in CATALOG_WRITES:
            return value
        return self._tracer.wrap(
            f"tables.{attr}", value,
            tag_fn=lambda *a, **k: a[0] if a else k.get("name"),
        )


def trace_engine(eng, tracer: Tracer) -> None:
    """Wrap a CrawlEngine instance's catalog and public entry points."""
    if not tracer.enabled:
        return
    eng.catalog = TracedCatalog(eng.catalog, tracer)
    eng.init_crawl = tracer.wrap("engine.init_crawl", eng.init_crawl)
    eng.run_round = tracer.wrap(
        "engine.run_round", eng.run_round,
        tag_fn=lambda state: f"round{state['round_completed'] + 1}",
    )
    eng.images = tracer.wrap("engine.images", eng.images)


# ---------------------------------------------------------------- intervals
def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of its interval its children
    cover (children on pool threads may overlap each other)."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(clip(children.get(s["id"], []), s["start"], s["end"]))
        for s in spans
    }


# ---------------------------------------------------------------- event log
def read_event_logs(log_dir: str) -> dict:
    """Jobs and finished tasks from every Spark event log under ``log_dir``.
    Times are epoch seconds, comparable with span times (same host clock)."""
    jobs, tasks = [], []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"submit": ev["Submission Time"] / 1000.0,
                                 "stages": ev.get("Stage IDs", []), "log": path})
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "log": path,
                        "stage": ev["Stage ID"],
                        "start": info["Launch Time"] / 1000.0,
                        "end": info["Finish Time"] / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "output": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    return {"jobs": jobs, "tasks": tasks}


def attribute_jobs(jobs: list[dict], spans: list[dict]) -> tuple[dict[int, int], int]:
    """Map each job to the innermost span whose interval covers its
    submission (the latest-starting covering span). Returns per-span job
    counts and the number of jobs no span covers."""
    per_span: dict[int, int] = {}
    unattributed = 0
    for j in jobs:
        best = None
        for s in spans:
            if s["start"] <= j["submit"] <= s["end"] and (
                best is None or s["start"] >= best["start"]
            ):
                best = s
        if best is None:
            unattributed += 1
        else:
            per_span[best["id"]] = per_span.get(best["id"], 0) + 1
            j["span"] = best["id"]
    return per_span, unattributed


def spark_layer_metrics(events: dict, spans: list[dict], ops: list[dict]) -> dict:
    """Spark counters over the workload's timed ops (rounds or queries),
    per op: jobs, stages, tasks, task time, GC, bytes; the share of op wall
    with no task running; and task skew (sum over stages of the slowest
    task's run time over the sum of mean task run times)."""
    by_id = {s["id"]: s for s in spans}
    op_ids = {o["id"] for o in ops}

    def op_of(span_id):
        while span_id is not None:
            if span_id in op_ids:
                return span_id
            span_id = by_id[span_id]["parent"]
        return None

    _, unattributed = attribute_jobs(events["jobs"], spans)
    op_jobs = [j for j in events["jobs"] if op_of(j.get("span")) is not None]
    stage_keys = {(j["log"], st) for j in op_jobs for st in j["stages"]}
    op_tasks = [t for t in events["tasks"] if (t["log"], t["stage"]) in stage_keys]
    n_ops = max(1, len(ops))
    busy = idle_wall = 0.0
    task_iv = [(t["start"], t["end"]) for t in op_tasks]
    for o in ops:
        covered = union_length(clip(task_iv, o["start"], o["end"]))
        busy += covered
        idle_wall += o["end"] - o["start"]
    by_stage: dict = {}
    for t in op_tasks:
        by_stage.setdefault((t["log"], t["stage"]), []).append(t["run_s"])
    max_sum = sum(max(v) for v in by_stage.values())
    mean_sum = sum(statistics.fmean(v) for v in by_stage.values())
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs_per_op": len(op_jobs) / n_ops,
        "spark.stages_per_op": len(by_stage) / n_ops,
        "spark.tasks_per_op": len(op_tasks) / n_ops,
        "spark.idle_frac": 1.0 - busy / idle_wall if idle_wall > 0 else 0.0,
        "spark.task_run_s": sum(t["run_s"] for t in op_tasks) / n_ops,
        "spark.task_cpu_s": sum(t["cpu_s"] for t in op_tasks) / n_ops,
        "spark.gc_s": sum(t["gc_s"] for t in op_tasks) / n_ops,
        "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in op_tasks) / mb / n_ops,
        "spark.shuffle_read_mb": sum(t["shuffle_read"] for t in op_tasks) / mb / n_ops,
        "spark.output_mb": sum(t["output"] for t in op_tasks) / mb / n_ops,
        "spark.spill_mb": sum(t["spill"] for t in op_tasks) / mb / n_ops,
        "spark.task_skew": max_sum / mean_sum if mean_sum > 0 else 1.0,
        "trace.unattributed_jobs": float(unattributed),
    }


# ---------------------------------------------------------------- processes
def proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, start time) of every live process, from /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # exited between the listing and the read
        if fields[0] != "Z":
            out[int(d)] = (int(fields[1]), fields[19])
    return out


def descendants(root_pid: int, table: dict | None = None) -> list[int]:
    table = proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _tree_pss_kb(root_pid: int) -> int:
    """Proportional set size of ``root_pid`` and all its descendants: pages
    shared between processes (forked Python workers) are split between
    them, so the sum is the tree's real footprint."""
    total = 0
    for pid in [root_pid] + descendants(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:  # the process exited between the scan and the read
            continue
    return total


class RssSampler:
    """Peak memory (proportional set size) of this process and all its
    descendants (the JVM and the Python workers), sampled from /proc on a
    background thread."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_pss_kb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, _tree_pss_kb(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
