"""Spans around layer entry points, with Spark stage counters per span.

The traced run patches each layer's public entry points from the outside
(no program file knows it is being traced). Every span sets its own Spark
job group, so each job lands in exactly one span: the innermost one that
was open when the job ran. When the span closes, the tracer drains the
listener bus and reads the group's stages from the status store, one
stage at a time; that works with ``spark.ui.enabled=false``. Stage ids
already counted by an earlier span, and stages a job skipped, are counted
as reused exchanges rather than as work.

A span's self time is its duration minus its children's durations and
minus the tracer's own bookkeeping done inside it, so the self times of a
span tree plus its child spans' ``overhead_s`` add up to the root's
duration.
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

from perfbench import host

COUNTERS = (
    "jobs", "stages", "reused_stages", "tasks", "jvm_cpu_s",
    "shuffle_bytes", "input_bytes", "output_bytes",
)


@dataclass
class Span:
    name: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    cpu_s: float = 0.0  # whole-VM busy CPU over the span, children included
    overhead_s: float = 0.0  # tracer bookkeeping for this span itself
    inner_overhead_s: float = 0.0  # tracer bookkeeping for child spans
    children: list[int] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; ``spark`` may be None in unit tests."""

    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._seen_stages: set[int] = set()
        self._patches: list[tuple[object, str, object]] = []
        self._tag = f"perfbench-{os.getpid()}"

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        s = Span(name, parent)
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        self._set_group(idx)
        cpu0 = host.cpu_times()[0]
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.cpu_s = host.cpu_times()[0] - cpu0
            self._stack.pop()
            self._set_group(parent)
            s.counters = self._read_group(idx)
            cost = (s.start - t0) + (time.perf_counter() - s.end)
            s.overhead_s = cost
            if parent is not None:
                self.spans[parent].inner_overhead_s += cost

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        return s.duration - sum(self.spans[c].duration for c in s.children) - s.inner_overhead_s

    def subtree(self, idx: int) -> list[int]:
        out = [idx]
        for c in self.spans[idx].children:
            out.extend(self.subtree(c))
        return out

    # -- patching entry points ------------------------------------------------

    def wrap(self, owner: object, attr: str, name: str | Callable[..., str]) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span.

        ``name`` is the span name, or a function of the call's arguments
        that returns it.
        """
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name(*args, **kwargs) if callable(name) else name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- Spark status store -----------------------------------------------------

    def _group(self, idx: int) -> str:
        return f"{self._tag}-{idx}"

    def _set_group(self, idx: int | None) -> None:
        if self.sc is None:
            return
        if idx is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._group(idx), self.spans[idx].name)

    def _read_group(self, idx: int) -> dict[str, float]:
        c = dict.fromkeys(COUNTERS, 0)
        if self.sc is None:
            return c
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(self._group(idx)):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            c["jobs"] += 1
            for sid in info.stageIds:
                if sid in self._seen_stages:
                    c["reused_stages"] += 1
                    continue
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    c["reused_stages"] += 1
                    continue
                self._seen_stages.add(sid)
                c["stages"] += 1
                c["tasks"] += sd.numTasks()
                c["jvm_cpu_s"] += sd.executorCpuTime() / 1e9
                c["shuffle_bytes"] += sd.shuffleWriteBytes()
                c["input_bytes"] += sd.inputBytes()
                c["output_bytes"] += sd.outputBytes()
        return c
