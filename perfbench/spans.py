"""Spans around calls into the engine's layers, and Spark counters per op.

Spans are recorded from the benchmark's side only: module attributes and
class methods of ``surrealdb_spark`` are wrapped while a traced run lasts,
and restored afterwards.  Every span keeps its name, start, end, parent and
operation id in memory; the run writes them out when it ends.  A layer's
self time is its span time minus the time its child spans cover.

After each operation the Spark counters of its job group are read from the
application status store (stages) and the SQL status store (operators); both
work with the UI disabled.
"""

from __future__ import annotations

import functools
import re
import time
from collections import defaultdict
from contextlib import contextmanager

# Wrapped while tracing: (module, attribute, span name).  compile_select is
# also imported function-locally by sql.statements, which reads the module
# attribute at call time, so one wrap covers both callers.
MODULE_WRAPS = [
    ("surrealdb_spark.sql.statements", "parse_statement", "sql.parser"),
    ("surrealdb_spark.sql.compiler", "parse_select", "sql.parser"),
    ("surrealdb_spark.sql.compiler", "compile_select", "sql.compiler"),
]
# (module, class, method, span name)
METHOD_WRAPS = [("surrealdb_spark.sql.statements", "StatementRunner", "run",
                 "sql.statements")] + [
    ("surrealdb_spark.dml", "Database", m, "dml")
    for m in ("create", "insert", "update", "upsert", "delete", "relate")
]


class Tracer:
    """Span recorder; with ``enabled=False`` every call is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self.overhead_s = 0.0  # span bookkeeping, inside the operations' clock
        self.counter_s = 0.0  # status-store reads, between rounds
        self._stack: list[dict] = []
        self._undo: list[tuple] = []
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._last_exec = self._max_execution_id() if enabled else -1

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        parent = self._stack[-1]["id"] if self._stack else None
        s = {"id": len(self.spans), "name": name, "op": self.op_id,
             "parent": parent, "jobs0": self._jsc.dagScheduler().numTotalJobs()}
        self.spans.append(s)
        self._stack.append(s)
        s["start"] = time.perf_counter()
        self.overhead_s += s["start"] - t
        try:
            yield
        finally:
            end = time.perf_counter()
            s["end"] = end
            s["jobs"] = self._jsc.dagScheduler().numTotalJobs() - s.pop("jobs0")
            self._stack.pop()
            self.overhead_s += time.perf_counter() - end

    def _wrapped(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        import importlib

        if not self.enabled:
            return
        for mod, attr, name in MODULE_WRAPS:
            m = importlib.import_module(mod)
            self._undo.append((m, attr, getattr(m, attr)))
            setattr(m, attr, self._wrapped(getattr(m, attr), name))
        for mod, cls, meth, name in METHOD_WRAPS:
            c = getattr(importlib.import_module(mod), cls)
            self._undo.append((c, meth, c.__dict__[meth]))
            setattr(c, meth, self._wrapped(c.__dict__[meth], name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- per-layer aggregation ------------------------------------------------

    def layer_totals(self, ops: set[int]) -> dict[str, dict[str, float]]:
        """name -> {s: self seconds, total_s, calls, jobs: self jobs} over
        the spans of the given operations."""
        child_s: dict[int, float] = defaultdict(float)
        child_jobs: dict[int, int] = defaultdict(int)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child_s[s["parent"]] += s["end"] - s["start"]
                child_jobs[s["parent"]] += s["jobs"]
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"s": 0.0, "total_s": 0.0, "calls": 0, "jobs": 0})
        for s in self.spans:
            if s["op"] not in ops or "end" not in s:
                continue
            d = out[s["name"]]
            dur = s["end"] - s["start"]
            d["s"] += dur - child_s[s["id"]]
            d["total_s"] += dur
            d["calls"] += 1
            d["jobs"] += s["jobs"] - child_jobs[s["id"]]
        return out

    # -- Spark counters -------------------------------------------------------

    def _max_execution_id(self) -> int:
        ex = self._sql_store.executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())), default=-1)

    def spark_counters(self, groups: dict[int, str]) -> dict[int, dict[str, float]]:
        """op id -> counters of the jobs its job group launched and of the
        SQL executions those jobs belong to.  Read after a round, so the
        reads are not on any operation's clock."""
        t0 = time.perf_counter()
        tracker = self._sc.statusTracker()
        store = self._jsc.statusStore()
        out: dict[int, dict[str, float]] = {}
        job_op: dict[int, int] = {}
        for op, group in groups.items():
            c = out[op] = defaultdict(float)
            stages: set[int] = set()
            for j in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(j)
                if info is not None:
                    job_op[j] = op
                    c["jobs"] += 1
                    stages.update(info.stageIds)
            for sid in stages:
                attempts = store.stageData(sid, False, None, False, None)
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    c["stages"] += 1
                    c["tasks"] += sd.numCompleteTasks()
                    c["task_s"] += sd.executorRunTime() / 1e3
                    c["task_cpu_s"] += sd.executorCpuTime() / 1e9
                    c["gc_s"] += sd.jvmGcTime() / 1e3
                    c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    c["input_bytes"] += sd.inputBytes()
        ex = self._sql_store.executionsList()
        last = self._last_exec
        for i in range(ex.size()):
            e = ex.apply(i)
            eid = e.executionId()
            if eid <= self._last_exec:
                continue
            last = max(last, eid)
            jobs = e.jobs().keySet().toSeq()
            ops = {job_op.get(jobs.apply(k)) for k in range(jobs.size())} - {None}
            if len(ops) == 1:
                _operator_metrics(self._sql_store, eid, out[ops.pop()])
        self._last_exec = last
        self.counter_s += time.perf_counter() - t0
        return {op: dict(c) for op, c in out.items()}


# SQL metric (node name pattern, metric name) -> counter name
_OP_METRICS = [
    (r"BroadcastExchange", "time to collect", "broadcast_collect_s"),
    (r"HashAggregate|ObjectHashAggregate", "time in aggregation build", "agg_build_s"),
    (r"Scan ", "scan time", "scan_s"),
    (r"Exchange|TakeOrderedAndProject|CollectLimit", "shuffle write time",
     "shuffle_write_s"),
    (r"Exchange|TakeOrderedAndProject|CollectLimit|AQEShuffleRead|ShuffleQueryStage",
     "fetch wait time", "fetch_wait_s"),
    (r"Python|Pandas|Arrow", "time to run Python workers", "python_s"),
    (r"Join|CartesianProduct", "number of output rows", "join_rows_out"),
]
_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def _metric_value(text: str) -> float:
    """First figure of a status-store metric string, in seconds or bytes.
    Multi-task metrics read 'total (min, med, max ...)\\n<total> (...)'."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.search(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def _operator_metrics(store, eid: int, c: dict) -> None:
    values = store.executionMetrics(eid)
    nodes = store.planGraph(eid).allNodes()
    for i in range(nodes.size()):
        node = nodes.apply(i)
        metrics = node.metrics()
        for k in range(metrics.size()):
            m = metrics.apply(k)
            v = values.get(m.accumulatorId())
            if not v.isDefined():
                continue
            mname = m.name()
            if mname == "peak memory":
                c["peak_memory_bytes"] = max(c.get("peak_memory_bytes", 0.0),
                                             _metric_value(v.get()))
                continue
            for pat, want, key in _OP_METRICS:
                if not re.search(pat, node.name()):
                    continue
                if want == mname:
                    c[key] += _metric_value(v.get())
                    break
