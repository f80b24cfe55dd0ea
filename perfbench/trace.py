"""Spans, percentiles, Spark job accounting and process memory.

A :class:`Tracer` keeps spans in memory and writes them out once, at the
end of a traced run.  A disabled tracer records nothing, so the untraced
run that reports the end-to-end numbers pays only a context-manager call
per span.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

# A tail percentile is reported only with this many samples beyond it.
TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 <= q <= 1), numpy's default."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float], q: float) -> float | None:
    """The ``q``-quantile, or None when fewer than :data:`TAIL_SAMPLES`
    samples lie beyond it, since such a percentile is no tail."""
    if len(values) * (1.0 - q) + 1e-9 < TAIL_SAMPLES:  # 100 * (1 - 0.9) is 9.99...
        return None
    return percentile(values, q)


def highest_tail(values: list[float]) -> tuple[float, float] | None:
    """(q, value) of the highest percentile with :data:`TAIL_SAMPLES`
    samples beyond it, or None below forty samples, where that percentile
    would be no tail."""
    n = len(values)
    if n < 4 * TAIL_SAMPLES:
        return None
    q = 1.0 - TAIL_SAMPLES / n
    return q, percentile(values, q)


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its children cover (overlapping
    children count once; parts outside the span do not count)."""
    cut = sorted(
        (max(c["start"], span["start"]), min(c["end"], span["end"]))
        for c in children
        if c["end"] > span["start"] and c["start"] < span["end"]
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in cut:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (span["end"] - span["start"]) - covered


class Tracer:
    """In-memory spans with parent links and an operation id.  When a
    SparkContext is given, each span opened with ``jobs=True`` runs its
    Spark jobs under a job group of its own, resolved to job and task
    counts by :meth:`resolve_jobs` once the run is over."""

    def __init__(self, enabled: bool, sc=None) -> None:
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: str | None = None, jobs: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        if jobs and self.sc is not None:
            rec["job_group"] = f"perfbench-{rec['id']}"
            self.sc.setJobGroup(rec["job_group"], name)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if "job_group" in rec:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)

    def resolve_jobs(self) -> None:
        """Fill ``jobs`` and ``tasks`` on every span that ran a job group.
        Call after the run: the status store learns of jobs asynchronously."""
        if not self.enabled or self.sc is None:
            return
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            group = rec.get("job_group")
            if group is None:
                continue
            job_ids = tracker.getJobIdsForGroup(group)
            tasks = 0
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = tracker.getStageInfo(sid)
                    tasks += stage.numTasks if stage else 0
            rec["jobs"] = len(job_ids)
            rec["tasks"] = tasks

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        by_parent: dict[int | None, list[dict]] = {}
        for s in self.spans:
            by_parent.setdefault(s["parent"], []).append(s)
        out = [
            {**s, "self": self_time(s, by_parent.get(s["id"], []))}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as f:
            json.dump(out, f)


def wait_for_jobs(sc, timeout: float = 10.0) -> None:
    """Block until the status store shows no active job, so job groups
    resolved afterwards are complete."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + timeout
    while tracker.getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.05)


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory (VmHWM) of this Python process plus the Spark
    driver JVM, in MiB."""
    kb = _hwm_kb(os.getpid())
    if jvm_pid is not None:
        kb += _hwm_kb(jvm_pid)
    return kb / 1024.0

