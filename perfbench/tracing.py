"""Spans around calls into the package, plus the SQL metrics Spark records.

Nothing here reaches inside the package. A span wraps a call the benchmark
makes into one layer's public function; spans stay in memory and are
written out when the run ends. After each timed action the traced run reads
the metrics Spark already keeps on the executed plan (walking AQE query
stages) through a ``QueryExecutionListener``, and the job, stage and task
counts of the action's job group.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Span recorder. Disabled, ``span`` costs one generator frame."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": sid, "name": name, "layer": layer, "op": op,
               "parent": parent, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part its children cover."""
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out = {}
        for s in self.spans:
            covered, last_end = 0.0, s["start"]
            for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], last_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last_end = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def walk_plan(node, seen: set, jvm, out: list | None = None) -> list[tuple[str, dict]]:
    """Flatten an executed plan into (node name, {metric: value}), entering
    AQE's final plan, query stages, subqueries and cached plans. A cached
    plan is walked once per capture (``seen`` holds its identity): later
    actions that read the cache did not run it again. Logical plans met
    among inner children carry no metrics and are skipped."""
    if out is None:
        out = []
    cls = node.getClass().getSimpleName()
    if cls == "InMemoryRelation":
        key = jvm.System.identityHashCode(node.cachedPlan())
        if key not in seen:
            seen.add(key)
            walk_plan(node.cachedPlan(), seen, jvm, out)
        return out
    if not jvm.Class.forName("org.apache.spark.sql.execution.SparkPlan").isInstance(node):
        return out
    metrics = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = kv._2().value()
    out.append((node.nodeName(), metrics))
    if cls == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [node.plan()]
    else:
        kids = _scala_seq(node.children()) + _scala_seq(node.innerChildren())
    for k in kids:
        walk_plan(k, seen, jvm, out)
    return out


class _Listener:
    """py4j implementation of Spark's QueryExecutionListener."""

    def __init__(self, sink: list, jvm):
        self.sink = sink
        self.jvm = jvm
        self.seen: set = set()

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        try:
            self.sink.append(walk_plan(qe.executedPlan(), self.seen, self.jvm))
        except Exception as exc:  # a failed walk loses metrics, not the run
            self.sink.append([("walk-failed", {"error": repr(exc)})])

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.sink.append([("action-failed", {})])

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SqlCapture:
    """Collects the executed plans of every action while registered."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.plans: list = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._listener = _Listener(self.plans, spark._jvm.java.lang)
        self._manager = spark._jsparkSession.listenerManager()
        self._manager.register(self._listener)

    def drain(self) -> list[list[tuple[str, dict]]]:
        """Plans recorded since the last drain (waits for the listener bus)."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        got = list(self.plans)
        self.plans.clear()
        return got

    def close(self) -> None:
        self._manager.unregister(self._listener)


def sql_layer_metrics(plans) -> dict[str, float]:
    """Sum the SQL metrics of the given plans into per-layer counters."""
    m: dict[str, float] = defaultdict(float)
    for plan in plans:
        for name, vals in plan:
            if name.startswith("Scan parquet"):
                m["sources.scan_ms"] += vals.get("scanTime", 0)
                m["sources.bytes_read"] += vals.get("filesSize", 0)
            elif name == "Exchange":
                m["functions.shuffle_bytes"] += vals.get("shuffleBytesWritten", 0)
                m["functions.shuffle_write_ms"] += vals.get("shuffleWriteTime", 0) / 1e6
            elif name == "MapInPandas":
                m["operators.extraction.python_ms"] += vals.get("pythonTotalTime", 0)
                m["operators.extraction.arrow_bytes_sent"] += vals.get("pythonDataSent", 0)
                m["operators.extraction.arrow_bytes_received"] += vals.get("pythonDataReceived", 0)
                m["operators.extraction.python_boot_ms"] += vals.get("pythonBootTime", 0)
                m["operators.extraction.python_init_ms"] += vals.get("pythonInitTime", 0)
            elif name == "ArrowEvalPython":
                m["plans.pipeline.embed_python_ms"] += vals.get("pythonTotalTime", 0)
    return dict(m)


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                stages += 1
                tasks += st.numTasks
    return len(jobs), stages, tasks
