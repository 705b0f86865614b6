"""Spans around the benchmark's calls into the program, plus per-operation
counters read from Spark's status stores (from outside the package).

A top-level operation (``Tracer.op``) runs in its own Spark job group, so
the jobs, stages and tasks it caused and the SQL metrics of its Python
plan nodes can be attributed to it afterwards. Child spans (``Tracer.span``)
mark the layer boundaries inside an operation (plan building vs action,
upsert vs commit vs checkpoint). Spans stay in memory until ``write``.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

# SQL metric names of the Python plan nodes (MapInPandas, ArrowEvalPython,
# FlatMapGroupsInPandas, ...): PythonSQLMetrics in Spark 4.1.
PY_METRICS = {
    "time to start Python workers": "start_s",
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "run_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}
_UNITS = {
    "ns": 1e-9, "µs": 1e-6, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_VALUE = re.compile(r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*(ns|µs|us|ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")

# SQL executions listed after each operation: more than any one operation starts
RECENT = 256

STAGE_FIELDS = ("tasks", "executor_run_s", "executor_cpu_s", "input_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes")


def parse_metric(text: str) -> float:
    """First quantity in a formatted SQL metric ("total (min, med, max)\\n6.3 s
    (...)") converted to seconds or bytes; 0.0 when it holds none."""
    m = _VALUE.search(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._jvm = self._sc._jvm
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._last_execution = -1

    # ------------------------------------------------------------- spans

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else self._next_id,
            **attrs,
        }
        self._next_id += 1
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    @contextmanager
    def op(self, kind: str, **attrs):
        """A top-level operation in its own job group; its status-store
        counts land in the span's ``counts`` once the listener bus drains."""
        if not self.enabled:
            yield None
            return
        # SQL executions started before this operation (by the benchmark,
        # or by program calls outside any operation) are not its own
        self._drain()
        self._last_execution = self._max_execution_id()
        try:
            with self.span(kind, **attrs) as rec:
                group = f"perfbench-op-{rec['id']}"
                self._sc.setJobGroup(group, kind)
                wall0 = time.time()
                try:
                    yield rec
                finally:
                    wall1 = time.time()
                    self._sc.setJobGroup("perfbench-idle", "idle")
        finally:
            # after the span closed, so collecting is not part of its time
            rec["counts"] = self._collect(group, wall0, wall1)

    # ----------------------------------------------------------- counters

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _max_execution_id(self) -> int:
        # the store lists executions in id order
        n = self._sql_store.executionsCount()
        return self._sql_store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def _collect(self, group: str, wall0: float, wall1: float) -> dict:
        self._drain()
        tracker = self._sc.statusTracker()
        store = self._jsc.statusStore()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        counts = {"jobs": len(job_ids), "stages": 0, **{k: 0 for k in STAGE_FIELDS}}
        busy: list[tuple[float, float]] = []
        no_task_status = self._jvm.java.util.ArrayList()
        no_quantiles = self._sc._gateway.new_array(self._jvm.double, 0)
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, no_task_status, False, no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                counts["stages"] += 1
                counts["tasks"] += st.numCompleteTasks()
                counts["executor_run_s"] += st.executorRunTime() / 1e3
                counts["executor_cpu_s"] += st.executorCpuTime() / 1e9
                counts["input_bytes"] += st.inputBytes()
                counts["shuffle_read_bytes"] += st.shuffleReadBytes()
                counts["shuffle_write_bytes"] += st.shuffleWriteBytes()
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    busy.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        counts["driver_gap_s"] = (wall1 - wall0) - covered(busy, wall0, wall1)
        counts.update({f"py_{v}": 0.0 for v in PY_METRICS.values()})
        counts.update(self._python_metrics())
        return counts

    def _python_metrics(self) -> dict:
        """Sum the Python-node SQL metrics of the executions started since
        the operation began (operations run one at a time, so they are all
        its own)."""
        out: dict[str, float] = {}
        n = self._sql_store.executionsCount()
        if n == 0:
            return out
        execs = self._sql_store.executionsList(max(0, n - RECENT), RECENT)
        for i in reversed(range(execs.size())):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= self._last_execution:
                break  # id order: the rest are older
            names = {}
            metrics = ex.metrics()
            for j in range(metrics.size()):
                pm = metrics.apply(j)
                if pm.name() in PY_METRICS:
                    names[pm.accumulatorId()] = PY_METRICS[pm.name()]
            if not names:
                continue
            it = self._sql_store.executionMetrics(eid).iterator()
            while it.hasNext():
                acc_text = it.next()
                key = names.get(acc_text._1())
                if key is not None:
                    out[f"py_{key}"] = out.get(f"py_{key}", 0.0) + parse_metric(acc_text._2())
        return out

    # ------------------------------------------------------------- output

    def ops(self, kind: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["parent"] is None and kind in (None, s["name"])]

    def self_times(self) -> dict[str, float]:
        """Span time minus the time its child spans cover, summed per name."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - covered(children.get(s["id"], []), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_time_s": self.self_times()}, fh, indent=1)
