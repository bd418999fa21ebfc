"""In-memory spans, job-group accounting and the small statistics the
benchmark reports.

Spans are recorded only in a traced run (``--trace 1``); with tracing off
``Tracer.span`` costs one attribute test. Spans live in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: int


class Tracer:
    """Records nested spans. A span opened with no span around it starts a
    new trace; the spans opened inside it share its trace id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[tuple[int, int]] = []  # (span_id, trace_id)
        self._next = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        span_id = self._next
        self._next += 1
        parent, trace_id = self._stack[-1] if self._stack else (None, span_id)
        self._stack.append((span_id, trace_id))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(span_id, name, start, end, parent, trace_id))

    def total(self, name: str) -> float:
        """Summed duration in seconds of every span called ``name``."""
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def write(self, path: str) -> None:
        """Write every span, with its self time, as one JSON list."""
        own = self_times(self.spans)
        with open(path, "w") as f:
            json.dump([{**asdict(s), "self": own[s.span_id]}
                       for s in sorted(self.spans, key=lambda s: s.start)], f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    child spans cover (children clipped to the parent, overlaps merged)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = (s.end - s.start) - covered
    return out


def percentile(values: list[float], q: float) -> float:
    """The q-th percentile (0..100), interpolating linearly between the
    two nearest ranks (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50)


class JobGroups:
    """Gives every timed call its own Spark job group and clears the group
    afterwards, so the jobs a call ran can be counted without picking up
    the jobs of an earlier call. Disabled (untraced runs), ``group`` makes
    no JVM call and yields None."""

    def __init__(self, spark, enabled: bool = True):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._n = 0

    @contextmanager
    def group(self, label: str):
        if not self.enabled:
            yield None
            return
        gid = f"perfbench-{self._n}-{label}"
        self._n += 1
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                self.sc.setLocalProperty(key, None)

    def stats(self, gid: str) -> dict[str, int]:
        """jobs, stages, tasks, shuffle-write and input bytes of one group,
        read from the application status store."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0,
               "shuffle_write_bytes": 0, "input_bytes": 0}
        for job_id in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(job_id)
            out["jobs"] += 1
            for stage_id in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["input_bytes"] += st.inputBytes()
        return out
