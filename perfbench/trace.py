"""In-memory span recorder for the traced run.

A span is recorded around each call into a layer of `wde_spark`: name,
start, end, parent, plus the Spark jobs and completed tasks the call ran
(counted through a per-span job group and the status tracker) and the JVM
garbage-collection time it overlapped (from the management beans). Spans
stay in memory; `dump` writes them out once, at the end of the run.

With tracing off every method is a no-op, so the untraced run pays nothing
but a few attribute lookups.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    gc_s: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark.sparkContext
        self._beans = (self._sc._jvm.java.lang.management.ManagementFactory
                       .getGarbageCollectorMXBeans())

    def _gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._beans) / 1000.0

    def _group(self, span: Span) -> str:
        return f"perfbench-span-{span.id}"

    def _job_stats(self, group: str) -> tuple[int, int]:
        st = self._sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numCompletedTasks
        return len(jobs), tasks

    @contextlib.contextmanager
    def span(self, name: str):
        """Time a layer call. Spark jobs started inside are attributed to
        the innermost open span (each span has its own job group)."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(self._group(s), name)
        gc0 = self._gc_s()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.gc_s = self._gc_s() - gc0
            s.jobs, s.tasks = self._job_stats(self._group(s))
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(self._group(parent), parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def materialize(self, df):
        """Force a layer's output at its boundary, so its work lands in its
        own span. Untraced runs leave the plan lazy, as the CLI does."""
        if self.enabled:
            df = df.cache()
            df.count()
        return df

    # -- aggregation -------------------------------------------------------

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def inclusive(self, span: Span, attr: str) -> float:
        return getattr(span, attr) + sum(
            self.inclusive(c, attr) for c in self.children(span))

    def total(self, name: str, attr: str = "seconds") -> float:
        """Sum of an attribute over every span with this name. Seconds and
        gc_s cover the span's whole interval; jobs and tasks are counted
        per span, so the child spans' counts are added."""
        spans = [s for s in self.spans if s.name == name]
        if attr in ("jobs", "tasks"):
            return sum(self.inclusive(s, attr) for s in spans)
        return sum(getattr(s, attr) for s in spans)

    def counted(self, name: str, key: str) -> float:
        return sum(s.counts.get(key, 0) for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
