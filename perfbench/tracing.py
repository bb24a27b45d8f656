"""Spans and Spark-side counters for the traced run.

Spans live in memory (name, start, end, parent, one run id) and are written
out once at the end. A layer runs through `profile()`: its DataFrame is
persisted, a fresh query over it fills the cache (`toRdd().count()`, which
deserializes no rows), and the per-operator metrics are read from the plan
that filled that cache. That plan belongs to this layer alone: an upstream
layer's persisted output shows up in it as one InMemoryTableScanExec node
with its own scan metrics, never with the upstream plan's metrics.
"""

from __future__ import annotations

import itertools
import time
import uuid
from contextlib import contextmanager


class Spans:
    def __init__(self):
        self.run_id = uuid.uuid4().hex
        self.records: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        rec = {"id": sid, "run_id": self.run_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.records.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float) -> None:
        """A top-level span timed elsewhere."""
        self.records.append({"id": next(self._ids), "run_id": self.run_id, "name": name,
                             "parent": None, "start": start, "end": end})

    def table(self) -> list[dict]:
        """Every span with its duration and self time (duration minus the
        durations of its children)."""
        dur = {r["id"]: r["end"] - r["start"] for r in self.records}
        child = {}
        for r in self.records:
            if r["parent"] is not None:
                child[r["parent"]] = child.get(r["parent"], 0.0) + dur[r["id"]]
        return [{**r, "duration_s": dur[r["id"]], "self_s": dur[r["id"]] - child.get(r["id"], 0.0)}
                for r in self.records]


def _children(node):
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def plan_nodes(jplan) -> list[tuple[str, dict[str, int]]]:
    """(operator class, {metric: value}) for every node of an executed plan,
    descending through AQE query stages. A cache scan is reported as its own
    node only; the plan that filled that cache is not entered."""
    out = []
    stack = [jplan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = int(kv._2().value())
        out.append((cls, metrics))
        stack.extend(_children(node))
    return out


def metric_sum(nodes, key: str, cls_pred=lambda c: True) -> int:
    return sum(m.get(key, 0) for c, m in nodes if cls_pred(c))


def is_python(cls: str) -> bool:
    return "Pandas" in cls or "Arrow" in cls or "Python" in cls


def python_counters(nodes) -> dict[str, float]:
    """Python-boundary counters summed over every Arrow/pandas operator.
    Spark keeps the Python times in milliseconds and the sizes in bytes."""
    return {
        "python_s": metric_sum(nodes, "pythonTotalTime", is_python) / 1e3,
        "python_boot_s": metric_sum(nodes, "pythonBootTime", is_python) / 1e3,
        "py_bytes_sent": metric_sum(nodes, "pythonDataSent", is_python),
        "py_bytes_received": metric_sum(nodes, "pythonDataReceived", is_python),
    }


def shuffle_bytes(nodes) -> int:
    return metric_sum(nodes, "dataSize", lambda c: c == "ShuffleExchangeExec")


def profile(df, spans: Spans, name: str) -> dict:
    """Persist df and fill its cache inside a span. Returns the persisted
    DataFrame, its seconds and rows, and the nodes of the plan that filled
    the cache, so the next layer reads these rows instead of recomputing
    them."""
    df.persist()
    # a fresh query over df: its plan is a scan of df's cache, and running
    # it builds that cache
    qe = df.select("*")._jdf.queryExecution()
    with spans.span(name) as rec:
        rows = int(qe.toRdd().count())
    cached = df.sparkSession._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    nodes = plan_nodes(cached.get().cachedRepresentation().cacheBuilder().cachedPlan())
    rec["rows"] = rows
    return {"df": df, "s": rec["end"] - rec["start"], "rows": rows, "nodes": nodes}


class JobCounter:
    """Spark jobs, and the stages and tasks that ran, under one job group."""

    def __init__(self, sc, group: str):
        self.sc, self.group = sc, group

    def __enter__(self):
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(self.group)
        stages = tasks = failed = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                st = tracker.getStageInfo(s)
                # a stage whose shuffle output was reused is kept in the
                # status store as SKIPPED with no task run: not counted
                ran = (st.numCompletedTasks + st.numFailedTasks) if st else 0
                if ran == 0:
                    continue
                stages += 1
                tasks += ran
                failed += st.numFailedTasks
        return {"spark_jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}
