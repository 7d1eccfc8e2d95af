"""Per-layer tracing for the benchmark, done entirely from outside the
package: spans around calls into each layer's public functions, plus
counters read after each query from Spark's status store (stages) and,
once the session has stopped, from the task updates in its event log
(the SQL metrics of Python nodes).

Nothing inside ``spear_spark`` is instrumented.  ``Tracer.install``
wraps, while one query is traced,

* ``spear_spark.sources.load_table`` (in every module that imported it),
* ``DataFrame.localCheckpoint`` / ``checkpoint``          -> ``staging``,
* ``DataFrame.collect`` / ``first`` / ``take`` / ``head`` / ``count`` /
  ``toPandas`` called while a query is being built      -> ``driver_action``,
* the Py4J gateway client's ``send_command``            -> ``construct.py4j_calls``,

and ``uninstall`` puts the originals back, so untraced passes run the
unmodified code.
"""

from __future__ import annotations

import json
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

STAGING_METHODS = ("localCheckpoint", "checkpoint")
DRIVER_ACTIONS = ("collect", "first", "take", "head", "count", "toPandas")

# Spark's PythonSQLMetrics, by display name
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
# SQLMetric value units by metric type, to seconds or bytes
SQL_METRIC_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0}


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Spans and counters of one traced query."""

    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)
    _saved: list[tuple[object, str, object]] = field(default_factory=list)
    _building: bool = False

    # -- spans -----------------------------------------------------------

    def begin(self, name: str) -> int:
        self.spans.append(Span(name, self._stack[-1] if self._stack else None, time.perf_counter()))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        assert self._stack and self._stack[-1] == idx, "spans must nest"
        self._stack.pop()
        self.spans[idx].end = time.perf_counter()

    def add(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0.0) + value

    def _wrap(self, owner: object, attr: str, layer: str, only_while_building: bool = False) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            # count the outermost call only: first() -> head() -> take() -> collect()
            nested = tracer._stack and tracer.spans[tracer._stack[-1]].name == layer
            if nested or (only_while_building and not tracer._building):
                return orig(*args, **kwargs)
            idx = tracer.begin(layer)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.end(idx)

        self._patch(owner, attr, traced)

    def _patch(self, owner: object, attr: str, replacement: object) -> None:
        self._saved.append((owner, attr, getattr(owner, "__dict__", {}).get(attr)))
        setattr(owner, attr, replacement)

    # -- install / uninstall ----------------------------------------------

    def install(self, gateway_client) -> None:
        import spear_spark.sources as sources

        load_table = sources.load_table
        for name, mod in list(sys.modules.items()):
            if name.startswith("spear_spark") and getattr(mod, "load_table", None) is load_table:
                self._wrap(mod, "load_table", "sources.load_table")
        for attr in STAGING_METHODS:
            self._wrap(ClassicDataFrame, attr, "staging")
        for attr in DRIVER_ACTIONS:
            self._wrap(ClassicDataFrame, attr, "driver_action", only_while_building=True)

        send = gateway_client.send_command

        def counted(*args, **kwargs):
            if self._building:
                self.add("construct.py4j_calls", 1)
            return send(*args, **kwargs)

        self._patch(gateway_client, "send_command", counted)

    def uninstall(self) -> None:
        for owner, attr, own in reversed(self._saved):
            if own is None:
                delattr(owner, attr)  # the attribute was inherited
            else:
                setattr(owner, attr, own)
        self._saved.clear()

    def building(self, on: bool) -> None:
        self._building = on

    # -- reduction -------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration and total self time (duration
        minus the time covered by child spans)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            d = s.end - s.start
            out[s.name + ".s"] = out.get(s.name + ".s", 0.0) + d
            out[s.name + ".self_s"] = out.get(s.name + ".self_s", 0.0) + d - child[i]
            out[s.name + ".calls"] = out.get(s.name + ".calls", 0.0) + 1
        return out


class StatusReader:
    """Reads per-query counters from Spark's status stores: stage
    metrics for the jobs of a job group, and the SQL metrics of the
    Python nodes of the SQL executions a query ran."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._executions_seen = int(self.sql_store.executionsCount())

    def drain(self) -> None:
        # listener events are delivered asynchronously; the stores are
        # complete only once the bus is empty
        self.jsc.listenerBus().waitUntilEmpty(30_000)

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_metrics(self, job_ids: list[int], tracer: Tracer) -> None:
        store = self.jsc.statusStore()
        stage_ids = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            d = store.lastStageAttempt(sid)
            if d.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            tracer.add("exec.stages", 1)
            tracer.add("exec.tasks", d.numCompleteTasks())
            tracer.add("exec.task_run_s", d.executorRunTime() / 1e3)
            tracer.add("exec.task_cpu_s", d.executorCpuTime() / 1e9)
            tracer.add("exec.gc_s", d.jvmGcTime() / 1e3)
            tracer.add("exec.input_bytes", d.inputBytes())
            tracer.add("exec.shuffle_read_bytes", d.shuffleReadBytes())
            tracer.add("exec.shuffle_write_bytes", d.shuffleWriteBytes())
            tracer.add("exec.spill_bytes", d.memoryBytesSpilled() + d.diskBytesSpilled())

    def python_metric_ids(self) -> dict[int, tuple[str, float]]:
        """The Python-node SQL metrics of the SQL executions since the
        last call, as accumulator id -> (layer metric, scale to seconds
        or bytes).  Their values come from the task updates in the event
        log (``task_updates``): the driver holds a plan's accumulators
        only through weak references, so a plan collected after its
        action would read as zero, and the SQL status store never
        credits a node that runs under a staged (checkpointed) plan,
        because it executes in a later execution's jobs."""
        ids: dict[int, tuple[str, float]] = {}
        n = int(self.sql_store.executionsCount())
        if n > self._executions_seen:
            executions = self.sql_store.executionsList(self._executions_seen, n - self._executions_seen)
            for i in range(executions.size()):
                it = executions.apply(i).metrics().iterator()
                while it.hasNext():
                    m = it.next()
                    layer = PYTHON_METRICS.get(m.name())
                    if layer is not None:
                        ids[m.accumulatorId()] = (layer, SQL_METRIC_SCALE[m.metricType()])
        self._executions_seen = n
        return ids

    def staged_bytes(self) -> int:
        return sum(int(r.memSize()) + int(r.diskSize()) for r in self.jsc.getRDDStorageInfo())


def task_updates(event_log: str) -> dict[int, float]:
    """Sum, per accumulator id, the updates every finished task reported
    for the SQL metrics, read from a Spark event log (one JSON event per
    line).  Unset metrics report -1 and count as 0."""
    totals: dict[int, float] = {}
    with open(event_log) as f:
        for line in f:
            if not line.startswith('{"Event":"SparkListenerTaskEnd"'):
                continue
            for acc in json.loads(line)["Task Info"].get("Accumulables", ()):
                if acc.get("Metadata") == "sql" and "Update" in acc:
                    update = max(0.0, float(acc["Update"]))
                    totals[acc["ID"]] = totals.get(acc["ID"], 0.0) + update
    return totals
