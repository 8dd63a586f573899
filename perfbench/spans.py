"""Per-layer spans read from Spark's own status stores, from outside the engine.

A span brackets one call into an engine layer (or the action that
materializes a layer's output). When it closes, the listener bus is drained
and every job, stage and SQL execution that started inside the span is read
back over py4j:

* jobs and stages from the core ``AppStatusStore``
  (``sc._jsc.sc().statusStore()``): ``jobsList`` and the 5-argument
  ``stageList`` of Spark 4.1, both newest first, so a span reads only the
  entries it added;
* per-plan-node SQL metrics from the ``SQLAppStatusStore``
  (``spark._jsparkSession.sharedState().statusStore()``): the plan graph of
  each new execution is rendered with its metric values and the Python nodes
  (``MapInPandas``, ``ArrowEvalPython``, ``FlatMapGroupsInPandas``, ...) are
  parsed for the Python-worker timings and the bytes crossing the Arrow
  boundary.

The session must keep every job, stage and execution a run creates (see
``STATUS_CONF``): once the store evicts entries, span deltas go wrong.
"""

from __future__ import annotations

import html
import re
import statistics
import time
from contextlib import contextmanager

# Keep every job, stage and SQL execution of a run in the status stores,
# and keep the console quiet.
STATUS_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.sql.ui.retainedExecutions": "1000000",
    "spark.ui.showConsoleProgress": "false",
}

# counters a span can report, with their units
COUNTER_UNITS = {
    "wall_s": "s", "build_s": "s", "jobs": "count", "stages": "count",
    "executor_run_ms": "ms", "executor_cpu_ms": "ms", "shuffle_write_bytes": "B",
    "spill_bytes": "B", "py_run_ms": "ms", "py_boot_ms": "ms",
    "py_bytes_sent": "B", "py_bytes_returned": "B", "core_busy": "ratio",
}
# counters summed straight from the spans' status-store deltas
_SUMMED = ("jobs", "stages", "executor_run_ms", "executor_cpu_ms", "shuffle_write_bytes",
           "spill_bytes", "py_run_ms", "py_boot_ms", "py_bytes_sent", "py_bytes_returned")

_PY_METRICS = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_boot_ms",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
}
_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")
_NODE = re.compile(r'label="(?:<br>)?<b>([^<]+)</b><br><br>(.*?)" tooltip=')


def parse_metric_value(text: str) -> float:
    """Value of one rendered SQL metric: "1.2 s", "37 ms", "960.0 B",
    "3.5 MiB" or "1,234", optionally followed by "(min, med, max ...)".
    Times come back in ms, sizes in bytes."""
    m = _VALUE.match(text)
    if m is None:
        raise ValueError(f"unparsable SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def python_node_metrics(dot: str) -> dict[str, float]:
    """Sum the Python-worker metrics of every Python node in a plan graph
    rendered by ``SparkPlanGraph.makeDotFile``. A metric is either
    ``name: value`` or ``name total (min, med, max ...)`` followed by a line
    holding the total."""
    out = dict.fromkeys(_PY_METRICS.values(), 0.0)
    out["py_nodes"] = 0.0
    for name, body in _NODE.findall(dot):
        lines = [html.unescape(x) for x in body.split("<br>")]
        if not any(ln.startswith(tuple(_PY_METRICS)) for ln in lines):
            continue
        out["py_nodes"] += 1
        for i, ln in enumerate(lines):
            for label, key in _PY_METRICS.items():
                if ln.startswith(label + ": "):
                    out[key] += parse_metric_value(ln[len(label) + 2:])
                elif ln.startswith(label + " total") and i + 1 < len(lines):
                    out[key] += parse_metric_value(lines[i + 1])
    return out


def _iter_newest(seq, newer):
    """Yield the head of a newest-first Scala Seq while ``newer(x)``."""
    it = seq.iterator()
    while it.hasNext():
        x = it.next()
        if not newer(x):
            return
        yield x


class StatusStore:
    """Marks and deltas over the core and SQL status stores of one session."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        gw = spark.sparkContext._gateway
        self._bus = jsc.listenerBus()
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._no_task_status = gw.jvm.java.util.ArrayList()

    def _stages(self):
        return self._app.stageList(
            None, False, False, self._no_quantiles, self._no_task_status
        )

    def _max_execution(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(int(n) - 1, 1).apply(0).executionId()

    def mark(self) -> tuple[int, int, int]:
        """(last job id, last stage id, last SQL execution id) seen so far."""
        self._bus.waitUntilEmpty()
        jobs, stages = self._app.jobsList(None), self._stages()
        return (
            jobs.head().jobId() if jobs.nonEmpty() else -1,
            stages.head().stageId() if stages.nonEmpty() else -1,
            self._max_execution(),
        )

    def since(self, mark: tuple[int, int, int]) -> dict[str, float]:
        """Counters of everything that ran after ``mark``."""
        job0, stage0, exec0 = mark
        self._bus.waitUntilEmpty()
        out = {
            "jobs": 0, "stages": 0, "executor_run_ms": 0, "executor_cpu_ms": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0,
        }
        for _ in _iter_newest(self._app.jobsList(None), lambda j: j.jobId() > job0):
            out["jobs"] += 1
        for st in _iter_newest(self._stages(), lambda s: s.stageId() > stage0):
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["executor_run_ms"] += st.executorRunTime()
            out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
        py = dict.fromkeys(_PY_METRICS.values(), 0.0)
        py["py_nodes"] = 0.0
        for eid in range(exec0 + 1, self._max_execution() + 1):
            if self._sql.execution(eid).isEmpty():
                continue
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            for k, v in python_node_metrics(dot).items():
                py[k] += v
        out.update(py)
        return out


class Tracer:
    """Collects spans per layer for one run. With ``store=None`` a span only
    times its block, so untraced runs pay nothing for the status stores."""

    def __init__(self, store: StatusStore | None, cores: int):
        self.store = store
        self.cores = cores
        self.spans: list[dict] = []
        self.read_s = 0.0  # time spent reading the status stores

    @contextmanager
    def span(self, layer: str, op: int, kind: str = "call"):
        """``kind`` is "call" for a call into the layer (its build time,
        eager jobs included) or "action" for the action that materializes
        the layer's output."""
        t_read = time.perf_counter()
        mark = self.store.mark() if self.store else None
        t0 = time.perf_counter()
        self.read_s += t0 - t_read
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            rec = {"layer": layer, "op": op, "kind": kind, "wall_s": wall}
            if self.store:
                rec.update(self.store.since(mark))
            self.spans.append(rec)
            self.read_s += time.perf_counter() - t0 - wall

    def layer_metrics(self, layers: dict[str, tuple[str, ...]], ops: list[int],
                      groups: dict[str, tuple[str, ...]]) -> dict[str, float]:
        """Per layer, the median over ``ops`` of each of its counters summed
        over the op's spans. ``layers`` maps a layer to its counters;
        ``groups`` maps a layer to the span layers summed into it (default:
        the layer's own spans)."""
        out: dict[str, float] = {}
        for layer, counters in layers.items():
            members = groups.get(layer, (layer,))
            per_op = []
            for op in ops:
                tot = dict.fromkeys(COUNTER_UNITS, 0.0)
                for s in self.spans:
                    if s["layer"] not in members or s["op"] != op:
                        continue
                    tot["wall_s"] += s["wall_s"]
                    if s["kind"] == "call":
                        tot["build_s"] += s["wall_s"]
                    for k in _SUMMED:
                        tot[k] += s.get(k, 0.0)
                wall_ms = tot["wall_s"] * 1e3
                tot["core_busy"] = tot["executor_run_ms"] / (wall_ms * self.cores) if wall_ms else 0.0
                per_op.append(tot)
            for k in counters:
                out[f"{layer}.{k}"] = statistics.median(t[k] for t in per_op) if per_op else 0.0
        return out
