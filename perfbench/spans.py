"""Spans and Spark job counts recorded around the benchmark's own calls
into each engine layer.

A :class:`Tracer` keeps spans in memory; the run writes them out when it
ends.  A disabled tracer's ``span`` is a no-op, so the untraced run pays
nothing for the call sites.  Layer names follow the engine's modules
(``session``, ``sources``, ``plans.sparql``, ``plans.r2rml``,
``operators.er``, ``queries_linking``, ``operators.dedup``, ``spark``).
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans
    op: int | None  # op index the span belongs to; None for set-up

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None
        # seconds spent in the tracer's own bookkeeping (job-group tags
        # and status-tracker reads), for the tracing-overhead estimate
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def tag_jobs(self, sc, group: str) -> None:
        """Tag the Spark jobs that follow with ``group`` (traced runs)."""
        if self.enabled:
            t0 = time.perf_counter()
            sc.setJobGroup(group, group)
            self.overhead_s += time.perf_counter() - t0

    def job_counts(self, sc, groups: list[str]) -> dict[str, int]:
        """Jobs, stages, tasks and failed tasks of the tagged groups,
        read from ``SparkContext.statusTracker()`` after the measured
        phase (reading per op would add py4j round trips to each op)."""
        t0 = time.perf_counter()
        st = sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for group in groups:
            for job in st.getJobIdsForGroup(group):
                info = st.getJobInfo(job)
                if info is None:
                    continue
                out["jobs"] += 1
                for sid in info.stageIds:
                    stage = st.getStageInfo(sid)
                    if stage is None:
                        continue
                    out["stages"] += 1
                    out["tasks"] += stage.numTasks
                    out["failed_tasks"] += stage.numFailedTasks
        self.overhead_s += time.perf_counter() - t0
        return out

    def as_dicts(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval covered by
    its direct children (overlapping children are merged first)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
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
        out.append(s.duration - covered)
    return out
