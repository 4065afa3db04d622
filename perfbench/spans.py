"""Spans around calls into the engine's layers, plus the Spark SQL metrics
of every query the traced code ran.

Spans stay in memory (name, start, end, parent, op id) and are written out
when the run ends. A span's self time is its duration minus the part its
child spans cover, so the self times of one op's spans add up to the op's
root span.

Plan metrics: a ``QueryExecutionListener`` implemented in Python (over the
py4j callback server) keeps a reference to each finished query. When a
span closes, the listener bus is drained and the queries that finished
inside the span are attached to it. After the op, outside its timed
window, each query's final plan is walked (``AdaptiveSparkPlanExec`` ->
``executedPlan`` -> ``*QueryStageExec.plan`` -> children, plus the plan
behind each cached relation, once) and its operator metrics are summed
into layer counters. SQL metrics are task time summed over tasks, not
wall time.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: scan nodes (file sources) and the metrics read off them
_SCAN = (("scanTime", "data.scan_ms"), ("filesSize", "data.scan_bytes"), ("numFiles", "data.scan_files"))
_PYTHON = (
    ("pythonTotalTime", "python_total_ms"),
    ("pythonBootTime", "python_boot_ms"),
    ("pythonInitTime", "python_init_ms"),
    ("pythonDataSent", "bytes_sent"),
    ("pythonDataReceived", "bytes_received"),
)
#: what the rows a Python stage returns are, per layer
_PYTHON_ROWS = {
    "codec.pack": "blocks_out",
    "codec.unpack": "points_decoded",
    "python.other": "rows_out",
}


class _Listener:
    """Receives every finished query execution from the JVM."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self):
        self._lock = threading.Lock()  # callbacks arrive on a py4j thread
        self._pending = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        with self._lock:
            self._pending.append((qe, duration_ns))

    def onFailure(self, func_name, qe, exc):  # noqa: N802
        with self._lock:
            self._pending.append((qe, 0))

    def take(self) -> list:
        """The queries finished since the last call."""
        with self._lock:
            out, self._pending = self._pending, []
        return out


class PlanWalker:
    """Sums the operator metrics of executed plans into layer counters."""

    def __init__(self, spark):
        self._jvm = spark.sparkContext._jvm
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        self._seen_cached: set[int] = set()

    def reset_cache_memo(self) -> None:
        self._seen_cached.clear()

    def _metric(self, node, name: str) -> int:
        ms = node.metrics()
        if not ms.contains(name):
            return 0
        return int(ms.apply(name).value())

    def _children(self, node):
        return list(self._conv.asJava(node.children()))

    def walk(self, plan, out: dict) -> None:
        name = plan.nodeName()
        if name == "AdaptiveSparkPlan":
            self.walk(plan.executedPlan(), out)
            return
        if name.endswith("QueryStage"):
            self.walk(plan.plan(), out)
            return
        if name.startswith("Reused"):
            return  # counted where it first ran
        if name == "Exchange":
            out["exchange.count"] += 1
            out["exchange.bytes_written"] += self._metric(plan, "shuffleBytesWritten")
            out["exchange.write_ms"] += self._metric(plan, "shuffleWriteTime") / 1e6
            out["exchange.fetch_wait_ms"] += self._metric(plan, "fetchWaitTime")
            out["exchange.records"] += self._metric(plan, "shuffleRecordsWritten")
            cols = {a.name() for a in self._conv.asJava(plan.output())}
            if "_blk" in cols or "_b__blk" in cols:
                # the serve_asof level-1 join: block metadata rows + probes
                out["ops.asof.meta_rows_shuffled"] += self._metric(
                    plan, "shuffleRecordsWritten"
                )
        elif name.startswith("Scan ") or name.startswith("FileScan") or name == "BatchScan":
            for m, key in _SCAN:
                out[key] += self._metric(plan, m)
        elif name.startswith("WholeStageCodegen"):
            # JVM compute of the fused operators below (task time)
            out["jvm.codegen_ms"] += self._metric(plan, "pipelineTime")
        elif name in ("HashAggregate", "ObjectHashAggregate", "SortAggregate"):
            if name == "HashAggregate":
                out["ops.rollup.agg_ms"] += self._metric(plan, "aggTime")
            out["ops.rollup.rows_out"] += self._metric(plan, "numOutputRows")
        elif "InPandas" in name or "InArrow" in name or "Python" in name:
            cols = {a.name() for a in self._conv.asJava(plan.output())}
            if "frame" in cols:
                layer = "codec.pack"
            elif "ts_ns" in cols and name == "MapInPandas":
                layer = "codec.unpack"
            else:
                layer = "python.other"
            for m, key in _PYTHON:
                out[f"{layer}.{key}"] += self._metric(plan, m)
            out[f"{layer}.{_PYTHON_ROWS[layer]}"] += self._metric(plan, "pythonNumRowsReceived")
            out[f"{layer}.tasks"] += int(plan.outputPartitioning().numPartitions())
        elif name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
            out["data.files_written"] += self._metric(plan, "numFiles")
            out["data.bytes_written"] += self._metric(plan, "numOutputBytes")
        elif name == "InMemoryTableScan":
            cached = plan.relation().cachedPlan()
            key = int(self._jvm.java.lang.System.identityHashCode(cached))
            if key not in self._seen_cached:
                self._seen_cached.add(key)
                self.walk(cached, out)
            return
        for child in self._children(plan):
            self.walk(child, out)


class Tracer:
    """Span recorder. Inactive tracers cost one attribute test per span."""

    def __init__(self, spark=None):
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = None
        self.last_op_spans: dict = {}
        self._spark = spark
        self._listener = None
        self._walker = None
        if spark is not None:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(spark.sparkContext._gateway)
            self._listener = _Listener()
            spark._jsparkSession.listenerManager().register(self._listener)
            self._walker = PlanWalker(spark)
            self._bus = spark.sparkContext._jsc.sc().listenerBus()

    def begin_op(self, op_id: int, active: bool) -> None:
        self._op = op_id
        self.active = active and self._spark is not None
        if self._listener is not None:
            self._drain()
            self._listener.take()

    def _drain(self) -> None:
        self._bus.waitUntilEmpty()

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        rec = {
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "t0": time.perf_counter(),
            "qes": [],
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        sc = self._spark.sparkContext
        group = f"perfbench-span-{len(self.spans) - 1}"
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield
        finally:
            self._drain()
            rec["qes"] = self._listener.take()
            rec["t1"] = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", outer)
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            self._stack.pop()

    def finish_op(self) -> dict:
        """Walk the plans of the op just traced; returns its layer counters.
        Runs outside the op's timed window."""
        out: dict = defaultdict(float)
        self.last_op_spans = {}
        if not self.active:
            return out
        self._walker.reset_cache_memo()
        first = next(k for k, s in enumerate(self.spans) if s["op"] == self._op)
        op_spans = self.spans[first:]
        for rec in op_spans:
            rec["n_queries"] = len(rec["qes"])
            per_span: dict = defaultdict(float)
            for qe, duration_ns in rec["qes"]:
                one: dict = defaultdict(float)
                self._walker.walk(qe.executedPlan(), one)
                if "data.files_written" in one:
                    one["data.write_s"] += duration_ns / 1e9  # a file write
                for k, v in one.items():
                    per_span[k] += v
            rec["plan"] = dict(per_span)
            rec["qes"] = []  # release the JVM references
            for k, v in per_span.items():
                out[k] += v
        for s, self_s in zip(op_spans, self_times(op_spans, first)):
            row = self.last_op_spans.setdefault(
                s["name"], {"calls": 0, "self_ms": 0.0, "queries": 0, "jobs": 0, "plan": defaultdict(float)}
            )
            row["calls"] += 1
            row["self_ms"] += self_s * 1e3
            row["queries"] += s["n_queries"]
            row["jobs"] += s["jobs"]
            for k, v in s["plan"].items():
                row["plan"][k] += v
        self.active = False
        return out


def self_times(spans: list[dict], base: int = 0) -> list[float]:
    """Per-span self time in seconds (duration minus direct children);
    ``spans`` is the tail of the span list starting at index ``base``."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None and s["parent"] >= base:
            child[s["parent"] - base] += s["t1"] - s["t0"]
    return [s["t1"] - s["t0"] - c for s, c in zip(spans, child)]


def span_table(spans: list[dict]) -> dict:
    """name -> {count, total_ms, self_ms, queries}, over every traced op."""
    st = self_times(spans)
    table: dict = defaultdict(
        lambda: {"count": 0, "total_ms": 0.0, "self_ms": 0.0, "queries": 0, "jobs": 0}
    )
    for s, self_s in zip(spans, st):
        row = table[s["name"]]
        row["count"] += 1
        row["total_ms"] += (s["t1"] - s["t0"]) * 1e3
        row["self_ms"] += self_s * 1e3
        row["queries"] += s.get("n_queries", 0)
        row["jobs"] += s.get("jobs", 0)
    return dict(table)


def dump_spans(spans: list[dict]) -> list[dict]:
    """JSON-ready copy of the spans (times relative to the first span)."""
    if not spans:
        return []
    base = spans[0]["t0"]
    return [
        {
            "name": s["name"],
            "op": s["op"],
            "parent": s["parent"],
            "start_ms": round((s["t0"] - base) * 1e3, 3),
            "end_ms": round((s["t1"] - base) * 1e3, 3),
            "queries": s.get("n_queries", 0),
            "jobs": s.get("jobs", 0),
            "plan": s.get("plan", {}),
        }
        for s in spans
    ]
