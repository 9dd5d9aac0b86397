"""Spans and per-layer counters for the traced run.

A `Tracer` records spans (name, start, end, parent, op id) around the
benchmark's calls into the package, and reads what Spark did for each op
from its status stores: jobs, stages and tasks from the job group, and
per-operator SQL metrics (Python-worker time, join output rows) from the
SQL executions those jobs belong to. Both stores work with the UI off.

`NullTracer` is the untraced stand-in: the same interface, doing nothing,
so timed code paths are identical in both modes apart from the recording.
"""

from __future__ import annotations

import contextlib
import re
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

_UNIT_MS = {"ns": 1e-6, "us": 1e-3, "µs": 1e-3, "ms": 1.0, "s": 1e3,
            "m": 60e3, "min": 60e3, "h": 3600e3}
_UNIT_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
           "TiB": 1 << 40}
_NUM_UNIT = re.compile(r"([-0-9.,]+)\s*([A-Za-zµ]+)?")
_JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct")


def parse_metric(kind: str, text: str) -> float:
    """Raw value of one formatted SQL metric string. Multi-task metrics
    read 'total (min, med, max ...)\\n<total> (...)': the total is the
    first figure on the last line."""
    m = _NUM_UNIT.match(text.strip().split("\n")[-1])
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    if kind in ("timing", "nsTiming"):
        return value * _UNIT_MS.get(unit, 1.0)
    if kind == "size":
        return value * _UNIT_B.get(unit, 1)
    return value


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    @contextlib.contextmanager
    def op(self, name: str):
        yield None

    def add(self, name: str, value: float) -> None:
        pass

    def plan(self, df) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._op_id: int | None = None
        self._seq = 0

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "op": self._op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, value: float) -> None:
        self.counters[name] += value

    def plan(self, df) -> None:
        """Force Catalyst planning of `df` before it executes, so its plan
        time is a span of its own."""
        t0 = time.perf_counter()
        with self.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
        self.add("catalyst.plan_ms", (time.perf_counter() - t0) * 1e3)

    @contextlib.contextmanager
    def op(self, name: str):
        """One op under its own job group; yields the op's record, which
        holds its Spark counters once the block exits."""
        self._seq += 1
        self._op_id = self._seq
        group = f"perfbench-{self._seq}"
        self.sc.setJobGroup(group, name)
        rec: dict = {"id": self._seq, "name": name}
        t0 = time.perf_counter()
        try:
            with self.span(name):
                yield rec
        finally:
            wall_ms = (time.perf_counter() - t0) * 1e3
            self.sc.setJobGroup("perfbench-idle", "idle")
            self._op_id = None
            rec["ms"] = wall_ms
            rec.update(self._spark_counters(group, wall_ms))
            self.ops.append(rec)
            for k in ("jobs", "stages", "tasks", "exec_ms", "driver_gap_ms",
                      "executor_cpu_ms", "gc_ms"):
                self.add(f"spark.{k}", rec[k])
            for k in ("shuffle.write_bytes", "shuffle.read_bytes",
                      "spill.bytes", "pyworker.total_ms", "pyworker.boot_ms",
                      "pyworker.bytes_sent"):
                self.add(k, rec[k])

    def _spark_counters(self, group: str, wall_ms: float) -> dict:
        store = self.sc._jsc.sc().statusStore()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        stages: set[int] = set()
        spans: list[tuple[int, int]] = []
        tasks = 0
        for jid in job_ids:
            jd = store.job(jid)
            tasks += jd.numTasks()
            it = jd.stageIds().iterator()
            while it.hasNext():
                stages.add(it.next())
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
        out = {"jobs": len(job_ids), "stages": 0, "tasks": tasks,
               "executor_cpu_ms": 0.0, "gc_ms": 0.0,
               "shuffle.write_bytes": 0, "shuffle.read_bytes": 0,
               "spill.bytes": 0}
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            out["stages"] += 1
            out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["gc_ms"] += sd.jvmGcTime()
            out["shuffle.write_bytes"] += sd.shuffleWriteBytes()
            out["shuffle.read_bytes"] += sd.shuffleReadBytes()
            out["spill.bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        busy = 0
        end = None
        for s, e in sorted(spans):
            if end is None or s > end:
                busy += e - s
                end = e
            elif e > end:
                busy += e - end
                end = e
        out["exec_ms"] = float(busy)
        out["driver_gap_ms"] = max(0.0, wall_ms - busy)
        out.update(self._sql_counters(set(job_ids)))
        return out

    def _sql_counters(self, job_ids: set[int]) -> dict:
        """Python-worker metrics and the largest join output, summed over
        the SQL executions that ran any of `job_ids`."""
        out = {"pyworker.total_ms": 0.0, "pyworker.boot_ms": 0.0,
               "pyworker.bytes_sent": 0.0, "max_join_rows": 0.0}
        if not job_ids:
            return out
        store = self.spark._jsparkSession.sharedState().statusStore()
        it = store.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            jit = ex.jobs().keysIterator()
            mine = False
            while jit.hasNext():
                if jit.next() in job_ids:
                    mine = True
                    break
            if not mine:
                continue
            values = store.executionMetrics(ex.executionId())
            nodes = store.planGraph(ex.executionId()).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                mit = node.metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    name = m.name().lower()
                    val = parse_metric(m.metricType(), v.get())
                    if "python" in name and "sent" in name:
                        out["pyworker.bytes_sent"] += val
                    elif "python" in name and m.metricType() in (
                            "timing", "nsTiming"):
                        key = ("pyworker.boot_ms" if "start" in name or "boot"
                               in name or "init" in name
                               else "pyworker.total_ms")
                        out[key] += val
                    elif (name == "number of output rows"
                          and node.name() in _JOIN_NODES):
                        out["max_join_rows"] = max(out["max_join_rows"], val)
        return out

    def dump(self) -> dict:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [{**s, "start": round((s["start"] - t0) * 1e3, 3),
                  "end": round(((s["end"] or s["start"]) - t0) * 1e3, 3)}
                 for s in self.spans]
        return {"spans": spans, "ops": self.ops,
                "counters": dict(self.counters)}
