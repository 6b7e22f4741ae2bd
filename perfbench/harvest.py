"""Metrics harvester: reads what Spark itself recorded about an action.

- SQL metrics per plan node come from the session's SQL status store
  (`executionMetrics` + `planGraph`), which the SQL listener fills whether
  or not the web UI is enabled. Values there are display strings
  ("28.3 MiB", "total (min, med, max ...)\\n12.2 s (...)", "100,000");
  `parse_metric` turns them back into numbers (bytes, seconds, counts) at
  the display precision. Where the driver still holds a metric's
  accumulator, its raw value is read instead, at full precision.
- Task durations and GC time come from the app status store, per stage of
  the harvested executions.
- Peak RSS comes from `VmHWM` in /proc for the driver JVM and every
  process under it (the Python daemon and its workers); CPU time from
  /proc/<pid>/stat of the job process and every process under it.

`pythonInitTime` ("time to initialize Python workers") is recorded raw as
`python.init_s`. It is summed over tasks and can exceed an action's wall,
so it is not worker-start overhead; it appears to include work done
before the first batch is returned. Do not subtract it from anything
until that is established.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE_RE = re.compile(r"^\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
_UDF_RE = re.compile(r"(\w+)\([^()]*\)#(\d+)")


# SQLMetric type → factor from the raw accumulator value to seconds/bytes
_RAW_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def parse_metric(text: str) -> float:
    """Display string of a SQL metric → number (seconds for timings, bytes
    for sizes, the count for sums). Timings and sizes with a per-task
    breakdown print the total on the second line."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RE.match(line)
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Execution:
    """One SQL execution: its plan text, stages and per-node metrics."""
    exec_id: int
    description: str
    plan: str
    stages: list[int]
    nodes: list[tuple[str, dict[str, float]]] = field(default_factory=list)

    def metric(self, node_prefix: str, name: str) -> float:
        """Sum of metric `name` over every node whose name starts with
        `node_prefix`."""
        return sum(ms.get(name, 0.0) for n, ms in self.nodes
                   if n.startswith(node_prefix))

    def udf_ids(self) -> dict[int, str]:
        """Python UDF result id → UDF name, from the ArrowEvalPython
        argument lists of the formatted plan (the id is what the UDF
        profiler keys its results by)."""
        out: dict[int, str] = {}
        for line in self.plan.splitlines():
            if line.startswith("Arguments:") and "pythonUDF" in line:
                for name, uid in _UDF_RE.findall(line.split("], [")[0]):
                    out[int(uid)] = name
        return out


class Harvester:
    """Reads the SQL and app status stores of one live session."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._accs = spark._jvm.org.apache.spark.util.AccumulatorContext
        # finished executions already read, by id: the raw values of an
        # execution read early survive later reads
        self._done: dict[int, Execution] = {}

    def _value(self, metric, values) -> float | None:
        """Raw value of one plan-node metric, else its display string
        parsed, else None when the execution did not update it."""
        acc = self._accs.get(metric.accumulatorId())
        if acc.isDefined():
            return acc.get().value() * _RAW_SCALE.get(metric.metricType(), 1.0)
        v = values.get(metric.accumulatorId())
        return parse_metric(v.get()) if v.isDefined() else None

    def _drain(self) -> None:
        # listener events are applied asynchronously; wait until the stores
        # hold everything the finished action posted
        self._sc.listenerBus().waitUntilEmpty()

    def last_exec_id(self) -> int:
        self._drain()
        execs = self.spark._jsparkSession.sharedState().statusStore() \
            .executionsList()
        return execs.last().executionId() if execs.size() else -1

    def executions_since(self, exec_id: int) -> list[Execution]:
        """Every SQL execution with an id above `exec_id`, with metrics."""
        self._drain()
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        out = []
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= exec_id:
                continue
            if eid in self._done:
                out.append(self._done[eid])
                continue
            stages = []
            it = e.stages().iterator()
            while it.hasNext():
                stages.append(int(it.next()))
            ex = Execution(eid, e.description(), e.physicalPlanDescription(),
                           sorted(stages))
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                ms = node.metrics()
                parsed = {}
                for k in range(ms.size()):
                    sm = ms.apply(k)
                    v = self._value(sm, values)
                    if v is not None:
                        parsed[sm.name()] = v
                ex.nodes.append((node.name(), parsed))
            if e.completionTime().isDefined():
                self._done[eid] = ex
            out.append(ex)
        return out

    def task_stats(self, stage_ids: list[int]) -> dict[str, float]:
        """Task count, duration p50/max and summed JVM GC time over the
        last attempt of each stage."""
        store = self._sc.statusStore()
        durations, gc_ms = [], 0
        for sid in stage_ids:
            stage = store.lastStageAttempt(sid)
            tasks = store.taskList(sid, stage.attemptId(), 1 << 20)
            for i in range(tasks.size()):
                t = tasks.apply(i)
                if t.duration().isDefined():
                    durations.append(t.duration().get() / 1000.0)
                if t.taskMetrics().isDefined():
                    gc_ms += t.taskMetrics().get().jvmGcTime()
        durations.sort()
        n = len(durations)
        return {
            "tasks": n,
            "task_p50_s": durations[n // 2] if n else 0.0,
            "task_max_s": durations[-1] if n else 0.0,
            "gc_s": gc_ms / 1000.0,
        }

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())


def children() -> dict[int, list[int]]:
    """Parent pid → pids of its live (or not yet reaped) children."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; ppid follows its ")"
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # utime stime cutime cstime are fields 14-17; fields after the
            # command name's ")" start at field 3
            fields = f.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in fields[11:15])
    except (OSError, IndexError, ValueError):
        return 0  # the process ended while we looked


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by `root_pid` and all its descendants."""
    kids = children()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _cpu_ticks(pid)
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, all CPUs: steal is
    time the hypervisor ran another guest while this one had work."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest time is
    # already inside user and nice)
    return fields[7], sum(fields[:8])


def peak_rss_mb(root_pid: int) -> float:
    """Summed high-water RSS (VmHWM) of `root_pid` and all its descendants."""
    kids = children()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _hwm_kib(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0
