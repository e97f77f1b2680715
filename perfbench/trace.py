"""Spans and Spark job accounting for the traced benchmark run.

A span records one call into an engine layer: name, start, end, parent
span and operation id. Spans are kept in memory and written out once, at
the end of the run. Spark jobs are attributed to a span by job id: every
job submitted while the span was open has an id between the highest id
seen at the span's start and the highest id seen at its end. That covers
jobs submitted from pool threads (``demux_and_write``) without job
groups, because the benchmark runs one operation at a time.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

MB = 1 << 20


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    first_job: int
    last_job: int  # exclusive


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and touch
    no Spark state, so the untraced run pays no tracing cost."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = 0
        self._spark = spark

    def _job_watermark(self) -> int:
        # jobsList is ordered by descending job id and, unlike the status
        # tracker's group query, includes the streaming engine's jobs,
        # which run under their own job group
        jobs = self._spark.sparkContext._jsc.sc().statusStore().jobsList(None)
        return jobs.head().jobId() + 1 if jobs.nonEmpty() else 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        first = self._job_watermark()
        parent = self._stack[-1] if self._stack else None
        if len(self._stack) == 1:  # a direct child of a pass is one operation
            self._op += 1
        s = Span(name, time.perf_counter(), 0.0, parent, self._op, first, first)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()
            s.last_job = self._job_watermark()

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it covered by its children."""
        s = self.spans[idx]
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == idx)
        return (s.end - s.start) - _union(kids)

    def dump(self, path: str) -> None:
        out = []
        for i, s in enumerate(self.spans):
            d = asdict(s)
            d["id"] = i
            d["self_s"] = self.self_time(i)
            out.append(d)
        with open(path, "w") as f:
            json.dump(out, f)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_stats(spark, job_ids) -> dict:
    """Execution facts for the given jobs from the status store: the
    union of their run intervals, job/task counts, task busy time and
    shuffle, spill and scan bytes."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = dict(wall_s=0.0, jobs=0, tasks=0, failed_tasks=0, task_busy_s=0.0,
               shuffle_write_mb=0.0, shuffle_read_mb=0.0, spill_mb=0.0, scan_input_mb=0.0)
    intervals, stages = [], set()
    for jid in job_ids:
        try:
            job = store.job(jid)
        except Py4JJavaError:  # evicted, or an id no job took
            continue
        out["jobs"] += 1
        sub, end = job.submissionTime(), job.completionTime()
        if sub.isDefined() and end.isDefined():
            intervals.append((sub.get().getTime() / 1e3, end.get().getTime() / 1e3))
        sids = job.stageIds()
        stages.update(sids.apply(k) for k in range(sids.size()))
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage that never ran has no attempt
            continue
        out["tasks"] += sd.numCompleteTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["task_busy_s"] += sd.executorRunTime() / 1e3
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
        out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
        out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        out["scan_input_mb"] += sd.inputBytes() / MB
    out["wall_s"] = _union(intervals)
    return out


def catalyst_plan_s(df) -> float:
    """Analysis + optimization + planning time of a DataFrame's query
    execution, read after its action so planning is not forced early."""
    phases = df._jdf.queryExecution().tracker().phases()
    it, total = phases.iterator(), 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1e3
