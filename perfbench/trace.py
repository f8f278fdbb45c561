"""Spans and Spark-side counters for the traced run.

Spans are recorded from the benchmark's own code, around its calls
into each layer of ``graal_cdc_spark``; nothing inside the engine is
instrumented. Spark-side numbers come from three places the engine
exposes without the UI:

- the status tracker and the app status store (jobs, stages, tasks,
  executor run/CPU time, input/shuffle/spill bytes), attributed
  through a job group the benchmark sets around each operation;
- ``QueryExecution.tracker().phases()`` (Catalyst analysis,
  optimization and planning), through a query execution listener;
- the SQL metrics of the executed plan's Python nodes.
"""

from __future__ import annotations

import json
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str  # "<layer>.<operation>"
    start: float
    end: float
    parent: int | None
    request: str  # query+pass or batch id


@dataclass
class Tracer:
    """In-memory span recorder. With ``enabled=False`` every call is a
    no-op, so the untraced run pays nothing for the instrumentation.
    Each thread nests its own spans (``foreachBatch`` runs on a Py4J
    callback thread)."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @contextmanager
    def span(self, name: str, request: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0,
                                   stack[-1] if stack else None, request))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_time_ms(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of
        it that its child spans cover, summed by layer (the name
        before the first dot)."""
        child_ms = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_ms[s.parent] += (s.end - s.start) * 1000
        out: dict[str, float] = defaultdict(float)
        for s, c in zip(self.spans, child_ms):
            out[s.name.split(".", 1)[0]] += (s.end - s.start) * 1000 - c
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        doc = dict(extra)
        doc["self_time_ms"] = self.self_time_ms()
        doc["spans"] = [
            {
                "id": i,
                "name": s.name,
                "start_ms": round((s.start - t0) * 1000, 3),
                "end_ms": round((s.end - t0) * 1000, 3),
                "parent": s.parent,
                "request": s.request,
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=1)


# ---------------------------------------------------------------------------
# Spark-side counters
# ---------------------------------------------------------------------------

PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


def _scala_map(m) -> dict:
    out = {}
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


# SQL metric of a Python exec node -> per-layer name
PYTHON_METRICS = {
    "pythonNumRowsReceived": "python_rows",
    "pythonDataSent": "python_bytes_sent",
    "pythonDataReceived": "python_bytes_received",
    "pythonTotalTime": "python_worker_ms",  # "time to run Python workers"
}


def plan_metrics(plan) -> dict[str, float]:
    """Sum the SQL metrics of every Python exec node in an executed
    physical plan, through adaptive plans and their query stages."""
    out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
    todo = [plan]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())  # the final adaptive plan
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        todo.extend(_seq(node.children()))
        if PYTHON_NODE.search(node.nodeName()):
            for k, m in _scala_map(node.metrics()).items():
                if k in PYTHON_METRICS:
                    out[PYTHON_METRICS[k]] += m.value()
    return out


class QueryPhases:
    """Query execution listener (Py4J callback) that keeps the Catalyst
    phase durations and Python-node SQL metrics of every successful
    action. :meth:`take` returns and clears what arrived so far."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._sc = spark.sparkContext
        ensure_callback_server_started(self._sc._gateway)
        self._lock = threading.Lock()
        self._pending: list[dict] = []
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 — JVM interface
        phases = {k: v.durationMs() for k, v in _scala_map(qe.tracker().phases()).items()}
        rec = {"phases": phases, **plan_metrics(qe.executedPlan())}
        with self._lock:
            self._pending.append(rec)

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        pass

    def take(self) -> list[dict]:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        with self._lock:
            out, self._pending = self._pending, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def job_group_stats(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and summed stage metrics of every job run
    under ``group`` (call after the group's work has finished)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = defaultdict(float)
    seen: set[int] = set()
    for j in st.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            if s in seen:
                continue
            seen.add(s)
            try:
                sd = store.lastStageAttempt(s)
            except Py4JJavaError:  # evicted from the store
                continue
            if sd.numTasks() == 0 or str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["executor_run_ms"] += sd.executorRunTime()
            out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["input_bytes"] += sd.inputBytes()
            if sd.inputRecords() > 0:
                out["scan_tasks"] += sd.numTasks()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if _stage_has_python(store, s):
                out["python_stage_run_ms"] += sd.executorRunTime()
    return dict(out)


def _stage_has_python(store, stage_id: int) -> bool:
    todo = [store.operationGraphForStage(stage_id).rootCluster()]
    while todo:
        c = todo.pop()
        if PYTHON_NODE.search(c.name()):
            return True
        todo.extend(_seq(c.childClusters()))
    return False
