"""Benchmark-side instruments: spans, Spark counters read from outside the
program, and the process tree's peak memory.

Spans are recorded only by the benchmark, around its calls into the
program's public functions.  They stay in memory and are written out when
the run ends.  Spark work is attributed to spans afterwards, by time
window: a job belongs to every span whose interval contains its
submission time.  Job groups are not used, because jobs submitted from the
program's worker threads do not carry the caller's group.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.  Disabled, ``span`` records nothing and
    costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._trace_id = 0

    def new_trace(self) -> None:
        """Start a new operation: later root spans share a new trace id."""
        self._trace_id += 1

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "id": next(self._ids),
            "trace": self._trace_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            **attrs,
        }
        self._stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)

    def self_seconds(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {
            s["id"]: (s["end"] - s["start"])
            - _union_len(kids.get(s["id"], []), s["start"], s["end"])
            for s in self.spans
        }

    def dump(self, path: str) -> None:
        self_s = self.self_seconds()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps({**s, "self_s": self_s[s["id"]]}) + "\n")


def _union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class SparkCounters:
    """Reads finished jobs and stages from the SparkContext's status store
    (populated with the UI disabled too) and sums them over time windows.

    Call :meth:`snapshot` once, after the measured work: it waits for the
    listener bus to deliver every event, then copies the job and stage
    records to Python.  Jobs and stages are each attributed by their own
    submission time, so a stage that a later job skips counts once."""

    STAGE_FIELDS = {
        "tasks": ("numCompleteTasks", 1),
        "run_ms": ("executorRunTime", 1),
        "cpu_ms": ("executorCpuTime", 1e-6),
        "gc_ms": ("jvmGcTime", 1),
        "shuffle_read_bytes": ("shuffleReadBytes", 1),
        "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    }

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self.jobs: list[tuple[float, float]] = []
        self.stages: list[tuple[float, dict]] = []

    def snapshot(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        jobs = store.jobsList(None)
        self.jobs = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            sub, done = job.submissionTime(), job.completionTime()
            if not (sub.isEmpty() or done.isEmpty()):
                self.jobs.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        # stageList's trailing parameters have Scala defaults py4j cannot
        # fill in; pass the default values the store itself reports
        defaults = [getattr(store, f"stageList$default${k}")() for k in range(2, 6)]
        stages = store.stageList(None, *defaults)
        self.stages = []
        for i in range(stages.size()):
            st = stages.apply(i)
            sub = st.submissionTime()
            if sub.isEmpty():
                continue
            self.stages.append((
                sub.get().getTime() / 1e3,
                {k: getattr(st, f)() * scale for k, (f, scale) in self.STAGE_FIELDS.items()},
            ))

    def window(self, start: float, end: float) -> dict:
        """Jobs and stages submitted inside [start, end], summed, plus the
        part of the window no job covers."""
        jobs = [j for j in self.jobs if start <= j[0] <= end]
        out = {"jobs": len(jobs)}
        for key in self.STAGE_FIELDS:
            out[key] = sum(m[key] for t, m in self.stages if start <= t <= end)
        out["outside_jobs_ms"] = (end - start - _union_len(jobs, start, end)) * 1e3
        return out


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of the peak resident sets (``VmHWM``) of ``root_pid`` and all
    its descendants: this Python process, the JVM it launched and the JVM's
    Python workers."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for child, ppid in parent.items():
            if ppid == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    total_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
