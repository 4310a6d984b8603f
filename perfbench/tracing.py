"""Tracing for the benchmark's traced run: in-memory spans recorded around
the calls into each layer, a Py4J round-trip counter, Spark's own per-operator
SQL metrics read from the SQL status store (works with the UI off) and spans
around the staging layer's `cached_df`.

Spans are kept in memory and written out when the run ends. Roots are
`get_spark`, `setup` and one `op` per timed operation; under them, the
layer calls: `build`, `plan` and `exec` of a query, `run_etl`, the sink's
`fold`, and `staging.cached_df`.
"""

from __future__ import annotations

import contextlib
import os
import re
import sys
import threading
import time


class NoTrace:
    """The untraced run's tracer: spans cost one dict and record nothing."""

    traced = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}


class Tracer:
    """Spans of one traced run. Every round trip through the Py4J gateway
    client is counted too, and each span records how many it made. Each
    thread has its own span stack; a span opened on a worker thread with an
    empty stack is a root."""

    traced = True

    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self.py4j_calls = 0
        self._lock = threading.Lock()
        self._patch_py4j()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record one span; yields its attribute dict so callers can attach
        the program's own timers and counts."""
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            rec = {"id": len(self.spans), "parent": stack[-1] if stack else None,
                   "name": name, "attrs": dict(attrs)}
            self.spans.append(rec)
        stack.append(rec["id"])
        rec["start_ms"] = time.time() * 1000.0
        t0 = time.perf_counter()
        calls0 = self.py4j_calls
        try:
            yield rec["attrs"]
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end_ms"] = rec["start_ms"] + rec["dur_s"] * 1000.0
            rec["py4j_calls"] = self.py4j_calls - calls0
            stack.pop()

    def named(self, name: str, within: dict | None = None) -> list[dict]:
        """Spans called `name`, or only those nested under `within`."""
        out = [s for s in self.spans if s["name"] == name]
        if within is None:
            return out
        ids = {within["id"]}
        for s in self.spans:  # parents precede their children
            if s["parent"] in ids:
                ids.add(s["id"])
        return [s for s in out if s["id"] in ids]

    def _patch_py4j(self) -> None:
        """Wrap send_command of both Py4J connection classes (pinned-thread
        and classic); the sink's publish threads call it concurrently."""
        from py4j import clientserver, java_gateway

        def counted(orig):
            def send_command(conn, command, *a, **kw):
                with self._lock:
                    self.py4j_calls += 1
                return orig(conn, command, *a, **kw)
            return send_command

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            cls.send_command = counted(cls.send_command)


# ------------------------------------------------------- SQL status store

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-zµ]*)")


def _num(text: str) -> float:
    m = _NUM.search(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def parse_metric(value: str) -> tuple[float, float | None, float | None]:
    """Parse one formatted SQL metric string into (total, median, max).
    Plain sums read like `1,234`; per-task size and timing metrics read
    like `total (min, med, max (stageId: taskId))\\n10.3 MiB (1.0 KiB,
    2.0 MiB, 3.0 MiB (stage 1.0: task 7))`, with seconds for timings."""
    if "\n" not in value:
        return _num(value), None, None
    body = value.split("\n", 1)[1]
    total_txt, _, rest = body.partition("(")
    parts = [p.strip() for p in rest.split(",")]
    med = _num(parts[1]) if len(parts) > 2 else None
    mx = _num(parts[2].split("(")[0]) if len(parts) > 2 else None
    return _num(total_txt), med, mx


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def drain_listener_bus(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def read_executions(spark, since_ms: float) -> list[dict]:
    """Every SQL execution submitted at or after `since_ms` (epoch ms), with
    its jobs, its plan nodes and their parsed metrics."""
    drain_listener_bus(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    tracker = spark.sparkContext.statusTracker()
    out = []
    for ex in _seq(store.executionsList()):
        sub = ex.submissionTime()
        if sub < since_ms:
            continue
        eid = ex.executionId()
        done = ex.completionTime()
        end = done.get().getTime() if done.isDefined() else None
        jobs = [int(j) for j in _seq(ex.jobs().keys())]
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in (info.stageIds if info else []):
                st = tracker.getStageInfo(s)
                tasks += st.numTasks if st else 0
        values = {int(k): str(v) for k, v in dict(
            spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                store.executionMetrics(eid))).items()}
        nodes = []
        for node in _seq(store.planGraph(eid).allNodes()):
            metrics = {}
            for m in _seq(node.metrics()):
                v = values.get(int(m.accumulatorId()))
                if v is not None:
                    metrics[m.name()] = parse_metric(v)
            nodes.append({"name": node.name(), "metrics": metrics})
        written = sum(n["metrics"]["written output"][0] for n in nodes
                      if "written output" in n["metrics"])
        out.append({"id": eid, "submit_ms": sub, "end_ms": end, "jobs": jobs,
                    "tasks": tasks, "nodes": nodes, "written": written})
    return out


def exec_totals(executions: list[dict]) -> dict:
    """Sum per-operator metrics over a list of executions into the
    benchmark's execution, scan and catalyst layer metrics."""
    t = {
        "exec.action_s": 0.0, "exec.jobs": 0, "exec.tasks": 0,
        "exec.shuffle_write_bytes": 0.0, "exec.spill_bytes": 0.0,
        "exec.peak_mem_bytes": 0.0, "exec.python_bytes": 0.0,
        "tables.scan_s": 0.0, "tables.bytes_read": 0.0, "tables.rows_read": 0.0,
        "catalyst.plan_nodes": 0, "catalyst.exchanges": 0,
    }
    skews = []
    for ex in executions:
        if ex["end_ms"] is not None:
            t["exec.action_s"] += (ex["end_ms"] - ex["submit_ms"]) / 1000.0
        t["exec.jobs"] += len(ex["jobs"])
        t["exec.tasks"] += ex["tasks"]
        for node in ex["nodes"]:
            name, m = node["name"], node["metrics"]
            t["catalyst.plan_nodes"] += 1
            if "Exchange" in name:
                t["catalyst.exchanges"] += 1
            total = lambda k: m[k][0] if k in m else 0.0  # noqa: E731
            t["exec.shuffle_write_bytes"] += total("shuffle bytes written")
            t["exec.spill_bytes"] += total("spill size")
            if "peak memory" in m:
                peak = m["peak memory"][2] or m["peak memory"][0]
                t["exec.peak_mem_bytes"] = max(t["exec.peak_mem_bytes"], peak)
            t["exec.python_bytes"] += (total("data sent to Python workers")
                                       + total("data returned from Python workers"))
            if name.startswith("Scan"):
                t["tables.scan_s"] += total("scan time")
                t["tables.bytes_read"] += total("size of files read")
                t["tables.rows_read"] += total("number of output rows")
            d = m.get("duration")
            if d and d[1] and d[2] and d[1] > 0.001:
                skews.append(d[2] / d[1])
    t["exec.task_max_over_median"] = max(skews) if skews else 1.0
    return t


# ------------------------------------------------------------- staging


def trace_staging(tracer: Tracer) -> None:
    """Record a `staging.cached_df` span around every call of the staging
    layer's `cached_df`, marked `built` when it found no published artifact
    and built one. Every module attribute bound to `cached_df` at import,
    aliases included, is rebound; modules that import it at call time get
    the wrapper from `staging`."""
    from t20_database_etl_pipeline_assignment_spark.sources import staging

    orig = staging.cached_df

    def cached_df(spark, path, build, partition_by=None):
        built = not os.path.exists(os.path.join(path, "_SUCCESS"))
        with tracer.span("staging.cached_df", artifact=os.path.basename(path), built=built):
            return orig(spark, path, build, partition_by)

    for mod in list(sys.modules.values()):
        for name, value in list(vars(mod).items()):
            if value is orig:
                setattr(mod, name, cached_df)
