"""Spans around the benchmark's calls into each package layer.

A span has a name, start, end, parent and the id of the op it belongs
to, plus counts the caller attaches (rows out, bytes rewritten, ...).
Each span runs its Spark work under its own job group; when the span
ends, the jobs of that group are read from Spark's status store
(`sc._jsc.sc().statusStore()`, which works with the UI disabled), so a
span's Spark counters cover its own jobs only, never its children's.
Spans are kept in memory and written out once, at the end of the run.

With tracing off every method is a no-op and no job group is set, so
the untraced runs measure the program alone.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from pyspark import StorageLevel


class Span:
    __slots__ = ("sid", "parent", "op", "name", "start", "end", "counts", "spark")

    def __init__(self, sid: int, parent: int | None, op: str | None, name: str):
        self.sid, self.parent, self.op, self.name = sid, parent, op, name
        self.start = self.end = 0.0
        self.counts: dict[str, float] = {}
        self.spark: dict[str, float] = {}

    def count(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    def as_dict(self) -> dict:
        return {
            "id": self.sid, "parent": self.parent, "op": self.op, "name": self.name,
            "start": self.start, "end": self.end, "counts": self.counts, "spark": self.spark,
        }


class _NoSpan:
    def count(self, key: str, value: float) -> None:
        pass


NO_SPAN = _NoSpan()


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: str | None = None
        self._stack: list[Span] = []
        self._held: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield NO_SPAN
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.sid if parent else None, self.op, name)
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(f"perfbench-{s.sid}", name)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"perfbench-{parent.sid}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            s.spark = spark_counters(self.spark, f"perfbench-{s.sid}")

    def hold(self, df, span=NO_SPAN):
        """Materialize a lazy layer's output inside its span (the traced
        run only), so its work is charged to the layer that defined it;
        the row count goes to the span as `rows_out`. Released by
        `release` at the end of the op."""
        if not self.enabled or df is None:
            return df
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        span.count("rows_out", df.count())
        self._held.append(df)
        return df

    @contextmanager
    def wrap(self, module, attr: str, name: str):
        """Within the block, calls to `module.attr` run in a span `name`
        and their lazy output is held there (the traced run only), so a
        package function that composes several layers can be called as it
        is and still be timed layer by layer."""
        if not self.enabled:
            yield
            return
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name) as s:
                return self.hold(fn(*args, **kwargs), s)

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, fn)

    def release(self) -> None:
        for df in self._held:
            df.unpersist()
        self._held.clear()

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps({"meta": meta}) + "\n")
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


def spark_counters(spark, group: str) -> dict[str, float]:
    """Jobs, tasks, executor CPU/run/GC time, shuffle and spill bytes of
    one job group, plus the wall-clock intervals its jobs ran in."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = {"jobs": 0, "tasks": 0, "exec_cpu_s": 0.0, "exec_run_s": 0.0, "gc_s": 0.0,
           "shuffle_bytes": 0, "spill_bytes": 0}
    intervals = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(jid)
        out["jobs"] += 1
        sub, comp = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and comp.isDefined():
            intervals.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
        for sid in jd.stageIds().mkString(",").split(","):
            if not sid:
                continue
            sd = store.lastStageAttempt(int(sid))
            if sd.status().toString() == "SKIPPED":
                continue
            out["tasks"] += sd.numTasks()
            out["exec_cpu_s"] += sd.executorCpuTime() / 1e9
            out["exec_run_s"] += sd.executorRunTime() / 1e3
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    out["job_intervals"] = intervals
    return out
