"""Spans around calls into the product, and the Spark metrics of each span.

A span records name, start, end and parent in the benchmark process and runs
its body under its own Spark job group. After the body, the span reads what
Spark itself recorded for that group from the driver's status stores:

- per stage (``AppStatusStore``): executor run and CPU time, GC time,
  shuffle bytes, spill, and the task durations of the span's heaviest stage;
- per SQL execution (``SQLAppStatusStore``): the plan graph with each node's
  SQL metrics, among them the Python nodes' ``time to run Python workers``
  (pythonTotalTime), ``time to start Python workers`` (pythonBootTime) and
  ``data sent to Python workers`` (pythonDataSent).

Nothing inside the product is instrumented. Spans live in memory and are
written out once, at the end of the run.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"
ROWS_OUT = "number of output rows"
# plan nodes whose SQL metrics a span reads: the Python exec nodes and the
# write commands
NODES_READ = (
    "MapInPandas", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
    "AggregateInPandas", "WindowInPandas", "FlatMapCoGroupsInPandas",
    "Execute InsertIntoHadoopFsRelationCommand",
)

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def _parse(text: str | None) -> float:
    """Spark's rendered metric value -> bytes, seconds or a plain count.
    Aggregated metrics render as 'total (min, med, max ...)\\n<total> (...)'."""
    if not text:
        return 0.0
    m = _VALUE.match(text.rsplit("\n", 1)[-1].strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class PlanNode:
    name: str
    desc: str
    metrics: dict[str, float]


@dataclass
class Span:
    name: str
    parent: str | None
    start_s: float
    end_s: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    # task durations (s) of the stage with the most executor run time
    heaviest_stage_tasks_s: list[float] = field(default_factory=list)
    # (duration, plan nodes) of every SQL execution the span ran
    executions: list[tuple[float, list[PlanNode]]] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end_s - self.start_s

    def nodes(self, name_prefix: str = ""):
        for _, nodes in self.executions:
            for n in nodes:
                if n.name.startswith(name_prefix):
                    yield n

    def metric(self, name: str, node_prefix: str = "", desc_has: str = "") -> float:
        """Sum of one SQL metric over matching plan nodes of the span."""
        return sum(
            n.metrics.get(name, 0.0)
            for n in self.nodes(node_prefix)
            if desc_has in n.desc
        )

    def max_over_median_task(self) -> float:
        t = self.heaviest_stage_tasks_s
        if not t:
            return 0.0
        med = statistics.median(t)
        return max(t) / med if med > 0 else 0.0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._app = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self.spans: list[Span] = []

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    @contextmanager
    def span(self, name: str, parent: str | None = "layers"):
        group = f"perfbench-{len(self.spans)}-{name}"
        first_execution = self._sql.executionsCount()
        self.sc.setJobGroup(group, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        sp = Span(name, parent, start, end)
        self._fill(sp, group, first_execution)
        self.spans.append(sp)

    def run(self, name: str, frame_fn, parent: str | None = "layers") -> Span:
        """Span around building ``frame_fn()`` and forcing it with a noop
        write (which evaluates every column, unlike ``count()``)."""
        with self.span(name, parent):
            frame_fn().write.format("noop").mode("overwrite").save()
        return self.spans[-1]

    def _fill(self, sp: Span, group: str, first_execution: int) -> None:
        """Read the span's jobs, stages and SQL executions back. Each JVM
        object access is a round trip to the JVM, so only the span's own
        executions and only the plan nodes in NODES_READ are visited."""
        self._bus.waitUntilEmpty(60_000)
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        sp.jobs = len(job_ids)
        heaviest = None
        for jid in job_ids:
            for sid in self._list(self._app.job(jid).stageIds()):
                st = self._app.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                sp.stages += 1
                sp.tasks += st.numCompleteTasks()
                sp.task_run_s += st.executorRunTime() / 1e3
                sp.task_cpu_s += st.executorCpuTime() / 1e9
                sp.gc_s += st.jvmGcTime() / 1e3
                sp.shuffle_read_mb += st.shuffleReadBytes() / 2**20
                sp.shuffle_write_mb += st.shuffleWriteBytes() / 2**20
                sp.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
                if heaviest is None or st.executorRunTime() > heaviest.executorRunTime():
                    heaviest = st
        if heaviest is not None:
            tasks = self._list(
                self._app.taskList(heaviest.stageId(), heaviest.attemptId(), 1_000_000)
            )
            sp.heaviest_stage_tasks_s = [
                t.duration().get() / 1e3 for t in tasks if t.duration().isDefined()
            ]
        for e in self._list(self._sql.executionsList(first_execution, 1_000_000)):
            if not job_ids & set(self._conv.asJava(e.jobs()).keySet()):
                continue
            dur = 0.0
            if e.completionTime().isDefined():
                dur = (e.completionTime().get().getTime() - e.submissionTime()) / 1e3
            values = None
            nodes = []
            for n in self._list(self._sql.planGraph(e.executionId()).allNodes()):
                name = n.name()
                if not name.startswith(NODES_READ):
                    continue
                if values is None:
                    values = self._conv.asJava(self._sql.executionMetrics(e.executionId()))
                nodes.append(PlanNode(
                    name, n.desc(),
                    {m.name(): _parse(values.get(m.accumulatorId()))
                     for m in self._list(n.metrics())},
                ))
            sp.executions.append((dur, nodes))

    def dump(self, path: Path) -> None:
        """Write every span (without plan nodes) as JSON lines."""
        with open(path, "w") as f:
            for sp in self.spans:
                d = asdict(sp)
                d["executions"] = [dur for dur, _ in sp.executions]
                f.write(json.dumps(d) + "\n")
