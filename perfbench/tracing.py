"""Spans, Spark event-log attribution and summary statistics.

A traced run records one span per call into a layer (name, start, end,
parent, op id), keeps them in memory and writes them out when the run
ends. Every Spark job started inside a span carries the span id in the
local property ``SPAN_PROPERTY``; the uncompressed event log then maps
jobs, stages and tasks back to spans. An untraced run uses
``NullTracer``, which records nothing and touches no Spark state.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    facts: dict = field(default_factory=dict)


class NullTracer:
    """Tracing off: spans cost one context-manager call."""

    enabled = False

    def span(self, name: str, op: int | None = None):
        return contextlib.nullcontext()


class Tracer:
    """Tracing on: spans in memory, span id set as a Spark local
    property for the duration of the span (the enclosing span's id is
    restored on exit)."""

    enabled = True

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _tag(self, span_id: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                SPAN_PROPERTY, None if span_id is None else str(span_id)
            )

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        """A span under the innermost open one; ``op`` defaults to the
        enclosing span's op id."""
        top = self._stack[-1] if self._stack else None
        parent = top.id if top else None
        if op is None:
            op = top.op if top else -1
        s = Span(len(self.spans), name, op, parent, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(parent)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# -- interval arithmetic ------------------------------------------------


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


# -- percentile rule ----------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def tail_percentile(n: int, beyond: int = 10) -> float:
    """The highest percentile with at least ``beyond`` of ``n`` samples
    above it: 100 * (n - beyond) / n, floored to one decimal. Below
    2 * beyond samples this is under the median, so the median is
    reported instead (the tail is then not resolved by the run)."""
    if n < 2 * beyond:
        return 50.0
    return int(1000.0 * (n - beyond) / n) / 10.0


# -- event log ----------------------------------------------------------


@dataclass
class JobStat:
    span: int | None
    start: float
    end: float
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


MB = 1024.0 * 1024.0


def parse_event_log(lines) -> list[JobStat]:
    """Jobs of an uncompressed Spark event log (JSON lines), each with
    the span id its ``SPAN_PROPERTY`` named (None when untagged) and
    its task metrics summed over all its stages."""
    jobs: dict[int, JobStat] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            tag = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            job = JobStat(
                None if tag is None else int(tag),
                ev["Submission Time"] / 1000.0,
                ev["Submission Time"] / 1000.0,
            )
            jobs[ev["Job ID"]] = job
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
            if job is not None:
                job.stages += 1
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"]))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            job.tasks += 1
            job.run_s += m.get("Executor Run Time", 0) / 1000.0
            job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.gc_s += m.get("JVM GC Time", 0) / 1000.0
            job.input_mb += m.get("Input Metrics", {}).get("Bytes Read", 0) / MB
            job.output_mb += (
                m.get("Output Metrics", {}).get("Bytes Written", 0) / MB
            )
            sr = m.get("Shuffle Read Metrics", {})
            job.shuffle_read_mb += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MB
            job.shuffle_write_mb += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                / MB
            )
            job.spill_mb += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / MB
    return list(jobs.values())
