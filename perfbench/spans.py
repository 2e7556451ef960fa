"""Span recorder for the traced run.

Spans are kept in memory and written out when the run ends. They come
from wrappers installed by rebinding module attributes in-process: the
package's source is never edited. A wrapped function is rebound in every
loaded package module that imported it by name, so a call through
``pipeline.idempotent_append_batch`` and one through
``streaming.gapfill_stream.idempotent_append_batch`` are both seen.

Spark scheduler counts come from the public ``statusTracker``: the
benchmark puts each request in its own job group, and a span that asks
for counts records the job ids the group gained while it was open.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "options_data_pipeline_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    request: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Recorder:
    """Collects spans; while ``enabled`` is false every wrapper is a
    pass-through, so one process can time traced and untraced requests."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[int] = []
        self._request: str | None = None

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str, request: str | None = None, jobs: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        if request is not None:
            self._request = request
            if self.spark is not None:
                self.spark.sparkContext.setJobGroup(request, name)
        before = self._job_ids() if jobs else None
        s = Span(
            name,
            time.perf_counter(),
            parent=self._stack[-1] if self._stack else -1,
            request=self._request,
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if before is not None:
                s.attrs.update(self.job_counts(sorted(self._job_ids() - before)))
            if request is not None:
                self._request = None
                if self.spark is not None:
                    self.spark.sparkContext.setJobGroup("idle", "")

    def _job_ids(self) -> set[int]:
        if self.spark is None or self._request is None:
            return set()
        sc = self.spark.sparkContext
        # the status store is fed by the async listener bus: drain it so a
        # job that just ended is counted in this span, not the next
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(self._request))

    def job_counts(self, job_ids: list[int]) -> dict:
        tracker = self.spark.sparkContext.statusTracker()
        stages: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        # a job lists the stages it reuses from an earlier shuffle too;
        # count only those that ran tasks
        ran = [tracker.getStageInfo(s) for s in stages]
        ran = [s for s in ran if s is not None and s.numCompletedTasks > 0]
        return {
            "jobs": len(job_ids),
            "stages": len(ran),
            "tasks": sum(s.numCompletedTasks for s in ran),
        }

    # -- wrappers ---------------------------------------------------------
    def wrap(self, module, attr: str, name: str, jobs: bool = False, on_result=None) -> None:
        """Rebind ``module.attr`` (and every package module holding the
        same object) to a wrapper that records span ``name``.
        ``on_result(span, result, args)`` may note what the call returned
        or was given."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name, jobs=jobs) as s:
                result = original(*args, **kwargs)
                if s is not None and on_result is not None:
                    on_result(s, result, args)
                return result

        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for key, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, key, wrapper)

    # -- reports ----------------------------------------------------------
    def children(self, index: int) -> list[Span]:
        return [s for s in self.spans if s.parent == index]

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "i": i,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "request": s.request,
                            "self_s": selfs[i],
                            **s.attrs,
                        }
                    )
                    + "\n"
                )


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= max(a, reach):
            continue
        total += b - max(a, reach)
        reach = b
    return total


def self_times(spans: list[Span]) -> list[float]:
    """A span's self time is its duration minus the part of its interval
    that its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent >= 0:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - covered(kids.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]
