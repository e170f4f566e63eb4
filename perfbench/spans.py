"""Spans and counters recorded from outside the package.

A span wraps one call into a public function of the package. Each span
tags the Spark jobs it starts with its own job group
(``SparkContext.setJobGroup``) and, when it closes, reads the exact
job, stage and task counts of that group from ``statusTracker()``.
Spans live in memory and are written out once, at the end of the run.

``Tracer(enabled=False)`` keeps no spans and sets no job groups, so the
untraced run pays nothing for the tracer.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = spark.sparkContext
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        """Time one call and count the Spark work it starts."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        sp = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                  op=self.op)
        self.spans.append(sp)
        self._stack.append(sid)
        group = f"perfbench-{sid}"
        self._sc.setJobGroup(group, name)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._count_jobs(sp, group)
            if self._stack:
                parent = self._stack[-1]
                self._sc.setJobGroup(f"perfbench-{parent}", self.spans[parent].name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def _count_jobs(self, sp: Span, group: str) -> None:
        st = self._sc.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            sp.jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None:
                    sp.stages += 1
                    sp.tasks += stage.numTasks

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([dict(asdict(s), id=i) for i, s in enumerate(self.spans)], fh)


def jvm_stats(spark) -> dict[str, float]:
    """Cumulative GC time and peak heap use of the Spark JVM, read
    from its management beans through the py4j gateway. The heap peak
    sums each heap pool's own peak, so it bounds the true peak from
    above."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
    heap_peak = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType().toString()) == "Heap memory":
            heap_peak += pool.getPeakUsage().getUsed()
    return {"jvm.gc_s": gc_ms / 1000.0, "jvm.heap_peak_mb": heap_peak / 2**20}
