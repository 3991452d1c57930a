"""Tracing from outside the program.

* ``Tracer`` keeps spans (name, start, end, parent, attributes) in memory
  and writes them out when the run ends.
* ``SparkProbe`` reads Spark's own bookkeeping after an action: job and
  stage counters from the DAG scheduler, per-stage task metrics from the
  app status store, and per-operator SQL metrics from the SQL status store
  (present even with the UI disabled).
* ``StreamProgress`` records micro-batch progress events.

Only traced runs (``--trace 1``) use any of this.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_TOTAL = " total (min, med, max (stageId: taskId))"
_NODE_RE = re.compile(r'^\s*(\d+) \[id="node\d+" labelType="html" label="(.*?)" tooltip=', re.M)
_EDGE_RE = re.compile(r"^\s*(\d+)->(\d+);", re.M)


def parse_value(text: str) -> float:
    """'1,234' -> 1234; '9.6 s' -> 9.6 (seconds); '1.5 KiB' -> 1536 (bytes)."""
    parts = text.strip().split(" ")
    num = float(parts[0].replace(",", ""))
    if len(parts) > 1 and parts[1] in _UNITS:
        num *= _UNITS[parts[1]]
    return num


def parse_plan_dot(dot: str) -> tuple[dict[int, dict], list[tuple[int, int]]]:
    """Nodes {id: {"name", "metrics": {name: value}}} and (child, parent)
    edges of a SQL execution's plan graph."""
    nodes = {}
    for nid, label in _NODE_RE.findall(dot):
        items = [s for s in label.split("<br>") if s]
        name = re.sub(r"</?b>", "", items[0]) if items else ""
        metrics = {}
        k = 1
        while k < len(items):
            item = items[k]
            if item.endswith(_TOTAL) and k + 1 < len(items):
                metrics[item[: -len(_TOTAL)]] = parse_value(items[k + 1].split(" (")[0])
                k += 2
                continue
            if ": " in item:
                key, val = item.rsplit(": ", 1)
                try:
                    metrics[key] = parse_value(val)
                except ValueError:
                    pass
            k += 1
        nodes[int(nid)] = {"name": name, "metrics": metrics}
    edges = [(int(a), int(b)) for a, b in _EDGE_RE.findall(dot)]
    return nodes, edges


def _rows_into(nodes, edges, nid) -> float:
    """Rows flowing into node ``nid``: the nearest descendant that counts them."""
    child_of = {}
    for a, b in edges:
        child_of.setdefault(b, a)
    cur = child_of.get(nid)
    while cur is not None:
        m = nodes.get(cur, {}).get("metrics", {})
        for key in ("number of output rows", "records read"):
            if key in m:
                return m[key]
        cur = child_of.get(cur)
    return 0.0


def plan_totals(nodes, edges) -> dict[str, float]:
    """Per-execution sums of the operator metrics the benchmark reports."""
    out = dict.fromkeys(
        ("python_s", "python_init_s", "python_bytes_in", "python_bytes_out",
         "shuffle_bytes", "pandas_rows_in", "pandas_rows_out"), 0.0
    )
    for nid, node in nodes.items():
        m = node["metrics"]
        if "data sent to Python workers" in m:
            out["python_s"] += m.get("time to run Python workers", 0.0)
            out["python_init_s"] += m.get("time to initialize Python workers", 0.0)
            out["python_bytes_in"] += m["data sent to Python workers"]
            out["python_bytes_out"] += m.get("data returned from Python workers", 0.0)
        if node["name"] == "MapInPandas":
            out["pandas_rows_in"] += _rows_into(nodes, edges, nid)
            out["pandas_rows_out"] += m.get("number of output rows", 0.0)
        out["shuffle_bytes"] += m.get("shuffle bytes written", 0.0)
    return out


class SparkProbe:
    """Reads what Spark recorded between two marks of a single-client run."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_exec = 0
        self.seconds = 0.0  # time spent reading, i.e. the tracing cost

    def mark(self) -> tuple[int, int, int]:
        t = time.perf_counter()
        self._bus.waitUntilEmpty()
        while self._sql.execution(self._next_exec).isDefined():
            self._next_exec += 1
        m = (self._dag.nextJobId(), self._dag.nextStageId(), self._next_exec)
        self.seconds += time.perf_counter() - t
        return m

    def collect(self, m0) -> dict:
        m1 = self.mark()
        t = time.perf_counter()
        out = {
            "job_ids": list(range(m0[0], m1[0])),
            "jobs": m1[0] - m0[0],
            "stages": 0,
            "cpu_s": 0.0,
            "run_s": 0.0,
            "gc_s": 0.0,
            "spill_bytes": 0.0,
        }
        for sid in range(m0[1], m1[1]):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # created but skipped: never ran
                continue
            out["stages"] += 1
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["run_s"] += sd.executorRunTime() / 1e3
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        totals: dict[str, float] = {}
        for eid in range(m0[2], m1[2]):
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            for k, v in plan_totals(*parse_plan_dot(dot)).items():
                totals[k] = totals.get(k, 0.0) + v
        out.update(totals)
        out["executions"] = m1[2] - m0[2]
        self.seconds += time.perf_counter() - t
        return out


class StreamProgress(StreamingQueryListener):
    """Micro-batch progress of every streaming query in the session."""

    def __init__(self):
        self.batches: list[tuple[str, int, float]] = []  # (run id, rows, seconds)

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ms = p.durationMs.get("triggerExecution", 0)
        self.batches.append((str(p.runId), int(p.numInputRows), ms / 1000.0))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
