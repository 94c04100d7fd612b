"""Spans around the benchmark's calls into each layer, resolved into Spark
counters through the in-process status store.

Every span gets its own job group, so the jobs a call fires -- eager ones
during build included -- are attributed to exactly that call. Spans live in
memory; ``resolve`` runs once after the traced pass, so reading the status
store never lands inside a timed call. With tracing off, ``span`` only
times the call: the untraced passes pay no job-group round trips.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError



@dataclass
class Span:
    name: str
    op_id: int
    parent: str | None
    start: float
    end: float = 0.0
    group: str | None = None
    counts: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op_id: int):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, op_id, parent.name if parent else None, time.perf_counter())
        sc = self.spark.sparkContext
        if self.enabled:
            sp.group = f"pb{len(self.spans)}"
            sc.setJobGroup(sp.group, name, False)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                if parent is not None and parent.group:
                    sc.setJobGroup(parent.group, parent.name, False)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def plan(self, df) -> None:
        """Force Catalyst optimization and physical planning of ``df`` (its
        analysis ran when it was built), so the span around this call times
        them; traced runs only."""
        if self.enabled:
            df._jdf.queryExecution().executedPlan()

    def resolve(self) -> None:
        """Fill every span's counters from the status store."""
        if not self.enabled:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.spark.sparkContext.statusTracker()
        for sp in self.spans:
            if sp.group is None or sp.counts:
                continue
            c = dict(jobs=0, stages=0, tasks=0, executor_run_s=0.0, executor_cpu_s=0.0,
                     shuffle_write_mb=0.0, spill_mb=0.0)
            intervals = []
            for jid in tracker.getJobIdsForGroup(sp.group):
                job = store.job(jid)
                c["jobs"] += 1
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    intervals.append((job.submissionTime().get().getTime(),
                                      job.completionTime().get().getTime()))
                for sid in tracker.getJobInfo(jid).stageIds:
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:
                        continue  # never attempted
                    if st.status().toString() != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    c["stages"] += 1
                    c["tasks"] += st.numCompleteTasks()
                    c["executor_run_s"] += st.executorRunTime() / 1e3
                    c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    c["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                    c["spill_mb"] += st.diskBytesSpilled() / 2**20
            c["spark_s"] = _union_ms(intervals) / 1e3
            sp.counts = c

    def jvm_gc_s(self) -> float:
        """Collection time of every garbage collector of the JVM so far. In
        local mode the driver and the executors share that JVM, so a pause
        stalls both; the stages' own GC time counts only pauses that land
        inside a task."""
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "op_id": s.op_id, "parent": s.parent, "start": s.start,
             "end": s.end, **s.counts}
            for s in self.spans
        ]


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_end = 0, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            total += b - a
            cur_end = b
        elif b > cur_end:
            total += b - cur_end
            cur_end = b
    return total
