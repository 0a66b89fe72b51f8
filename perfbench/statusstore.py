"""Read per-operation execution statistics from Spark's status stores.

Both stores are kept in the driver with the UI off:

- the core store (``SparkContext.statusStore``) has jobs and stage
  attempts with their task totals (run time, CPU time, GC, shuffle, spill);
- the SQL store (``SharedState.statusStore``) has each SQL execution's
  plan graph and its node metrics, kept only as formatted strings such as
  ``"total (min, med, max (stageId: taskId))\\n1.5 s (0 ms, 1 ms, ...)"``.

Both are filled from Spark's listener bus, which delivers events
asynchronously; ``settle`` waits until it has delivered every event posted
so far. Each store keeps about 1000 entries, so the benchmark reads an
operation's entries right after the operation, selecting its jobs by job
group and its SQL executions by id.
"""

from __future__ import annotations

import re
from collections import defaultdict

from py4j.protocol import Py4JJavaError

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50}
_TIME_MS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
LISTENER_WAIT_MS = 10_000


def parse_metric(text: str) -> float:
    """Parse one formatted SQL metric into base units: bytes for sizes,
    milliseconds for timings, a plain number for counts.

    Accepts a bare value (``"1,024"``, ``"1.5 s"``, ``"147.9 KiB"``), the
    per-task form, whose second line starts with the total
    (``"total (min, med, max (stageId: taskId))\\n2.0 KiB (1024.0 B, ...)"``),
    and the form of average metrics, which has no total and gives the
    median (``"(min, med, max (stageId: taskId)):\\n(1.0, 1.1, 1.2 (...))"``).
    An empty string, which Spark prints for a metric no task updated,
    is 0."""
    lines = [ln.strip() for ln in text.strip().splitlines() if ln.strip()]
    if not lines:
        return 0.0
    line = lines[0]
    if line.startswith(("total", "avg")):
        line = lines[-1]
    elif line.startswith("(min"):
        line = lines[-1].lstrip("(").split(",")[1]
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparseable metric value: {text!r}")
    number, unit = float(m.group(1).replace(",", "")), m.group(2)
    if not unit:
        return number
    if unit in _SIZE:
        return number * _SIZE[unit]
    if unit in _TIME_MS:
        return number * _TIME_MS[unit]
    raise ValueError(f"unknown metric unit {unit!r} in {text!r}")


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


class StatusReader:
    """Reads one operation's jobs, stages and SQL node metrics."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._core = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._to_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self.last_execution_id = self._max_execution_id()

    def settle(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(LISTENER_WAIT_MS)

    def _max_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return int(self._sql.executionsList(int(n) - 1, 1).apply(0).executionId())

    def new_execution_ids(self) -> list[int]:
        """Ids of the SQL executions started since the previous call."""
        n = int(self._sql.executionsCount())
        ids: list[int] = []
        # executions are listed in id order; walk back from the newest
        for off in range(n - 1, -1, -1):
            eid = int(self._sql.executionsList(off, 1).apply(0).executionId())
            if eid <= self.last_execution_id:
                break
            ids.append(eid)
        if ids:
            self.last_execution_id = max(ids)
        return sorted(ids)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, job_ids: list[int]) -> dict:
        """Totals over the stages of ``job_ids``. Stages a job lists but never
        ran (their shuffle output was reused) count as skipped."""
        out = defaultdict(float)
        seen: set[int] = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    attempts = _seq(self._core.stageData(
                        sid, False, self._no_status, False, self._no_quantiles
                    ))
                except Py4JJavaError:  # NoSuchElementException: never submitted
                    attempts = []
                ran = [a for a in attempts if a.status().toString() != "SKIPPED"]
                if not ran:
                    out["stages_skipped"] += 1
                    continue
                out["stages"] += 1
                out["stage_retries"] += len(ran) - 1
                for a in ran:
                    out["tasks"] += a.numCompleteTasks()
                    out["failed_tasks"] += a.numFailedTasks()
                    out["task_run_ms"] += a.executorRunTime()
                    out["task_cpu_ms"] += a.executorCpuTime() / 1e6
                    out["gc_ms"] += a.jvmGcTime()
                    out["shuffle_write_bytes"] += a.shuffleWriteBytes()
                    out["shuffle_read_bytes"] += a.shuffleReadBytes()
                    out["spill_bytes"] += a.memoryBytesSpilled() + a.diskBytesSpilled()
                    out["peak_exec_mem_bytes"] = max(
                        out["peak_exec_mem_bytes"], a.peakExecutionMemory()
                    )
        return dict(out)

    def plan_nodes(self, execution_ids: list[int]) -> list[dict]:
        """Every plan node of the executions, with its metrics parsed:
        ``{"name": ..., "metrics": {metric name: (metric type, value)}}``.
        A cached plan appears under every execution that reads the cache,
        with the same accumulators; each accumulator is counted once."""
        nodes, seen = [], set()
        for eid in execution_ids:
            values = dict(self._to_java(self._sql.executionMetrics(eid)).items())
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                metrics = {}
                for m in _seq(node.metrics()):
                    acc = m.accumulatorId()
                    text = values.get(acc)
                    if text is not None and acc not in seen:
                        seen.add(acc)
                        metrics[m.name()] = (m.metricType(), parse_metric(text))
                nodes.append({"name": node.name(), "metrics": metrics})
        return nodes
