"""Spans recorded from outside the program, and Spark engine metrics
read back from the event log.

``Tracer.install`` wraps public functions of ``gleaner_spark`` (lake
table append/append_local/read keyed by table name, ``build_frontier``,
the seen-set sketch load/checkpoint) in spans. Every span also sets
the Spark job description to ``<iteration>|<span name>``, so the jobs
and stages in the event log attribute to the innermost span.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

DESC = "spark.job.description"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.iteration: str | None = None
        self.spans: list[tuple[str, str, float, float]] = []  # (iter, name, t0, t1)
        self.counts: dict[tuple[str, str], int] = defaultdict(int)
        self._patches: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        it = self.iteration
        if it is None:
            yield
            return
        prev = self.sc.getLocalProperty(DESC)
        self.sc.setJobDescription(f"{it}|{name}")
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setJobDescription(prev)
            with self._lock:
                self.spans.append((it, name, t0, t1))

    def count(self, name: str, n: int = 1) -> None:
        if self.iteration is not None:
            with self._lock:
                self.counts[(self.iteration, name)] += n

    def _wrap(self, owner, attr: str, namer) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **k):
            with tracer.span(namer(*a, **k)):
                return orig(*a, **k)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        from gleaner_spark.operators import harvest as hv
        from gleaner_spark.plans import lake, pipeline

        T = lake.LakeTable
        for method in ("append", "append_local", "read"):
            self._wrap(T, method, lambda t, *a, _m=method, **k: f"plans.lake.{_m}.{t.name}")
        self._wrap(pipeline, "build_frontier", lambda *a, **k: "operators.frontier.build")
        self._wrap(hv, "load_seen_sketch", lambda *a, **k: "operators.harvest.load_seen_sketch")
        self._wrap(hv, "checkpoint_seen_sketch",
                   lambda *a, **k: "operators.harvest.checkpoint_seen_sketch")
        snapshots = T.snapshots
        tracer = self

        @functools.wraps(snapshots)
        def counted(t):
            tracer.count("plans.lake.manifest_reads")
            return snapshots(t)

        T.snapshots = counted
        self._patches.append((T, "snapshots", snapshots))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ---- per-iteration views ---------------------------------------------

    def span_totals(self, it: str) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for i, name, t0, t1 in self.spans:
            if i == it:
                out[name] += t1 - t0
        return out

    def covered_s(self, it: str, root: str) -> float:
        """Wall time inside the root span that child spans cover
        (interval union, so nested and overlapping spans count once)."""
        iv = sorted((t0, t1) for i, n, t0, t1 in self.spans if i == it and n != root)
        total, end = 0.0, float("-inf")
        for t0, t1 in iv:
            if t1 <= end:
                continue
            total += t1 - max(t0, end)
            end = t1
        return total


def read_event_log(log_dir: str) -> list[dict]:
    """Events of every application log under ``log_dir``, including
    rolling logs (a directory of ``events_<n>_...`` files)."""
    def order(path):
        name = os.path.basename(path)
        parts = name.split("_")
        return (os.path.dirname(path), int(parts[1]) if name.startswith("events_") else 0)

    paths = []
    for dirpath, _dirs, files in os.walk(log_dir):
        paths += [os.path.join(dirpath, f) for f in files
                  if not f.startswith(("appstatus", "."))]
    events = []
    for path in sorted(paths, key=order):
        with open(path) as f:
            for line in f:
                if line.strip():
                    events.append(json.loads(line))
    return events


def spark_metrics(events: list[dict], windows: dict[str, tuple[float, float]]) -> dict:
    """Engine metrics per iteration. A job belongs to the iteration its
    description names, else to the iteration whose time window holds its
    submission (jobs of streaming micro-batches carry Spark's own
    description)."""
    job_iter: dict[int, str] = {}
    job_span: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        if e.get("Event") != "SparkListenerJobStart":
            continue
        desc = (e.get("Properties") or {}).get(DESC) or ""
        it, _, span = desc.partition("|")
        if it not in windows:
            t = e["Submission Time"] / 1000.0
            it = next((k for k, (a, b) in windows.items() if a <= t <= b), None)
            span = ""
        if it is None:
            continue
        job_iter[e["Job ID"]] = it
        job_span[e["Job ID"]] = span
        for sid in e["Stage IDs"]:
            stage_job[sid] = e["Job ID"]

    per_iter: dict[str, dict] = {
        it: {"jobs": 0, "tasks": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0,
             "spill": 0, "stages": defaultdict(list), "stage_span": {},
             "stage_input": defaultdict(int)}
        for it in windows
    }
    for job, it in job_iter.items():
        per_iter[it]["jobs"] += 1
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        job = stage_job.get(e["Stage ID"])
        if job is None:
            continue
        m = per_iter[job_iter[job]]
        tm = e.get("Task Metrics") or {}
        info = e.get("Task Info") or {}
        m["tasks"] += 1
        m["cpu_ns"] += tm.get("Executor CPU Time", 0)
        m["gc_ms"] += tm.get("JVM GC Time", 0)
        m["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        m["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        key = (e["Stage ID"], e.get("Stage Attempt ID", 0))
        m["stages"][key].append((info.get("Launch Time", 0), info.get("Finish Time", 0)))
        m["stage_span"][key] = job_span[job]
        m["stage_input"][key] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)

    out = {}
    for it, m in per_iter.items():
        skew = 1.0
        if m["stages"]:
            longest = max(m["stages"].values(),
                          key=lambda ts: max(t[1] for t in ts) - min(t[0] for t in ts))
            durs = [max(1, b - a) for a, b in longest]
            skew = max(durs) / statistics.median(durs)
        out[it] = {
            "spark.jobs": m["jobs"],
            "spark.tasks": m["tasks"],
            "spark.executor_cpu_s": m["cpu_ns"] / 1e9,
            "spark.jvm_gc_s": m["gc_ms"] / 1e3,
            "spark.shuffle_write_mb": m["shuffle_write"] / 1e6,
            "spark.spill_mb": m["spill"] / 1e6,
            "spark.task_skew": skew,
            "stages_with_input": {
                k: m["stage_span"][k] for k, v in m["stage_input"].items() if v > 0
            },
        }
    return out
