"""Operation timing, and for traced runs: spans around each call into a
program layer plus the Spark status-store counts of each operation.

Untraced runs only time operations.  A traced run also tags every
operation's jobs with a job group, reads that group's jobs and stages
from ``statusStore()`` after the operation, and keeps spans in memory
until :meth:`Tracer.write` at exit.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class OpRecord:
    def __init__(self, op: str, op_id: int, rot: int) -> None:
        self.op, self.op_id, self.rot = op, op_id, rot
        self.wall_s = 0.0
        self.counts: dict[str, float] = {}


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark, self.enabled = spark, enabled
        self.records: list[OpRecord] = []
        self.spans: list[dict] = []
        self.harvest_s = 0.0
        self._stack: list[int] = []
        self._op_id = None
        self._compiles = None
        if enabled:
            jvm = spark.sparkContext._jvm
            cls = jvm.java.lang.Class.forName("org.apache.spark.metrics.source.CodegenMetrics$")
            self._compiles = cls.getField("MODULE$").get(None).METRIC_COMPILATION_TIME()

    def compiles(self) -> int:
        return self._compiles.getCount() if self._compiles is not None else 0

    @contextmanager
    def span(self, name: str):
        """A span around one call into a program layer (traced runs)."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "op_id": self._op_id,
                           "parent": self._stack[-1] if self._stack else None,
                           "start": time.monotonic(), "end": None})
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.monotonic()

    @contextmanager
    def op(self, op: str, rot: int = -1):
        """Time one operation of rotation ``rot`` (-1: outside the
        rotations); when traced, harvest its Spark counts."""
        rec = OpRecord(op, len(self.records), rot)
        sc = self.spark.sparkContext
        group = f"lakebench:{rec.op_id}:{op}"
        if self.enabled:
            sc.setJobGroup(group, op)
            self._op_id = rec.op_id
            c0 = self.compiles()
        try:
            with self.span(f"op:{op}"):
                t0 = time.perf_counter()
                yield rec
                rec.wall_s = time.perf_counter() - t0
        finally:
            if self.enabled:
                h0 = time.perf_counter()
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                rec.counts["compiles"] = self.compiles() - c0
                rec.counts.update(self._harvest(group))
                self._op_id = None
                self.harvest_s += time.perf_counter() - h0
        if rec.wall_s and self.enabled:
            rec.counts["driver_s"] = max(0.0, rec.wall_s - rec.counts["spark.job_s"])
        self.records.append(rec)

    def _harvest(self, group: str) -> dict[str, float]:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jobs = tasks = 0
        intervals, stages = [], set()
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            j = store.job(jid)
            jobs += 1
            tasks += j.numCompletedTasks()
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            ids = j.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        cpu_ns = inp = out = shw = 0
        for sid in stages:
            attempts = store.stageData(sid, False, None, False, None)
            for k in range(attempts.size()):
                s = attempts.apply(k)
                if str(s.status()) != "COMPLETE":
                    continue
                cpu_ns += s.executorCpuTime()
                inp += s.inputBytes()
                out += s.outputBytes()
                shw += s.shuffleWriteBytes()
        return {
            "spark.jobs": jobs,
            "spark.tasks": tasks,
            "spark.job_s": _union_s(intervals),
            "spark.executor_cpu_s": cpu_ns / 1e9,
            "spark.input_bytes": inp,
            "spark.output_bytes": out,
            "spark.shuffle_write_bytes": shw,
        }

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "ops": [{"op_id": r.op_id, "op": r.op, "wall_s": r.wall_s, **r.counts} for r in self.records]},
                      f)
