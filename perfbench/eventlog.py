"""Reader for Spark's JSON event log (uncompressed, rolling or single).

The log is enabled with ``spark.eventLog.enabled=true``, a directory
of the benchmark's own and ``spark.eventLog.compress=false``. It
yields, per SQL execution, the physical plan with the accumulator id
of every node metric, and per stage and task the accumulator values
and task metrics. Node metrics are assigned to the engine's layers by
the node that owns them:

- ``Scan parquet`` over a path under the snapshot tables -> icetable
  scan; over the pages table -> pages scan;
- ``Exchange`` on the ``xxhash64`` routing key -> pipeline shuffle
  (``plans/pipeline.extract_pages``);
- ``MapInPandas`` -> pipeline Arrow hand-off to the Python workers;
- ``Execute InsertIntoHadoopFsRelationCommand`` -> icetable write.

Times in the log are epoch milliseconds of the JVM's wall clock.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
SQL_ADAPTIVE = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
)
SQL_DRIVER_ACCUM = (
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
)


@dataclass
class Node:
    name: str
    desc: str
    location: str

    def layer(self, tables_marker: str, pages_marker: str) -> str | None:
        if self.name.startswith("Scan parquet"):
            if tables_marker in self.location:
                return "icetable.scan"
            if pages_marker in self.location:
                return "pages.scan"
            return None
        if self.name == "Exchange":
            return "pipeline.shuffle" if "xxhash64" in self.desc else "shuffle"
        if self.name == "MapInPandas":
            return "pipeline.python"
        if self.name == "Execute InsertIntoHadoopFsRelationCommand":
            return "icetable.write"
        return None


@dataclass
class Execution:
    id: int
    start: int
    end: int = 0
    accums: set = field(default_factory=set)  # accumulator ids in the plan

    @property
    def wall_ms(self) -> int:
        return self.end - self.start


@dataclass
class Task:
    stage: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    spill_bytes: int
    accums: dict  # accumulator id -> this task's update


@dataclass
class Stage:
    id: int
    submitted: int = 0
    n_tasks: int = 0
    accums: dict = field(default_factory=dict)  # accumulator id -> value
    tasks: list = field(default_factory=list)


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


class EventLog:
    def __init__(self, events: list[dict], tables_marker: str,
                 pages_marker: str):
        self.tables_marker = tables_marker
        self.pages_marker = pages_marker
        self.nodes: dict[int, Node] = {}
        self.metric_type: dict[int, str] = {}
        self.metric_name: dict[int, str] = {}
        self.executions: dict[int, Execution] = {}
        self.stages: dict[int, Stage] = {}
        self.driver_accums: dict[int, int] = defaultdict(int)
        self.job_submitted: dict[int, int] = {}
        for ev in events:
            self._add(ev)

    @classmethod
    def load(cls, log_dir: str, tables_marker: str,
             pages_marker: str) -> "EventLog":
        """Read every event file under ``log_dir`` (rolling logs are a
        directory of ``events_<n>_<app>`` files, read in order)."""
        files = []
        for root, _dirs, names in os.walk(log_dir):
            for name in names:
                if name.startswith((".", "appstatus")):
                    continue
                files.append(os.path.join(root, name))

        def order(path: str):
            name = os.path.basename(path)
            parts = name.split("_")
            idx = _num(parts[1]) if name.startswith("events_") else 0
            return (os.path.dirname(path), idx, name)

        events = []
        for path in sorted(files, key=order):
            with open(path, encoding="utf-8") as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
        return cls(events, tables_marker, pages_marker)

    # ------------------------------------------------------- ingestion
    def _walk_plan(self, exe: Execution, info: dict) -> None:
        meta = info.get("metadata") or {}
        node = Node(info.get("nodeName", ""), info.get("simpleString", ""),
                    meta.get("Location", ""))
        for m in info.get("metrics", []):
            acc = m["accumulatorId"]
            self.nodes[acc] = node
            self.metric_type[acc] = m.get("metricType", "sum")
            self.metric_name[acc] = m["name"]
            exe.accums.add(acc)
        for child in info.get("children", []):
            self._walk_plan(exe, child)

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == SQL_START:
            exe = Execution(ev["executionId"], ev["time"])
            self.executions[exe.id] = exe
            self._walk_plan(exe, ev["sparkPlanInfo"])
        elif kind == SQL_ADAPTIVE:
            exe = self.executions.get(ev["executionId"])
            if exe is not None:
                self._walk_plan(exe, ev["sparkPlanInfo"])
        elif kind == SQL_END:
            exe = self.executions.get(ev["executionId"])
            if exe is not None:
                exe.end = ev["time"]
        elif kind == SQL_DRIVER_ACCUM:
            for acc, value in ev["accumUpdates"]:
                self.driver_accums[acc] += _num(value)
        elif kind == "SparkListenerJobStart":
            for sid in ev["Stage IDs"]:
                self.stages.setdefault(sid, Stage(sid))
                self.job_submitted[sid] = ev["Submission Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submitted = info.get("Submission Time", 0)
            st.n_tasks = info.get("Number of Tasks", 0)
            st.accums = {a["ID"]: _num(a.get("Value"))
                         for a in info.get("Accumulables", [])}
        elif kind == "SparkListenerTaskEnd":
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            task = Task(
                stage=ev["Stage ID"],
                run_ms=tm.get("Executor Run Time", 0),
                cpu_ns=tm.get("Executor CPU Time", 0),
                gc_ms=tm.get("JVM GC Time", 0),
                spill_bytes=tm.get("Memory Bytes Spilled", 0)
                + tm.get("Disk Bytes Spilled", 0),
                accums={a["ID"]: _num(a.get("Update"))
                        for a in info.get("Accumulables", [])},
            )
            self.stages.setdefault(task.stage, Stage(task.stage)).tasks.append(task)

    # ---------------------------------------------------------- queries
    def window(self, start_ms: float, end_ms: float) -> "View":
        """Executions and stages that started inside [start, end]."""
        exes = [e for e in self.executions.values()
                if start_ms <= e.start <= end_ms]
        stages = [s for s in self.stages.values()
                  if start_ms <= (s.submitted or self.job_submitted.get(s.id, 0))
                  <= end_ms]
        return View(self, exes, stages)

    def layer_of(self, acc: int) -> str | None:
        node = self.nodes.get(acc)
        if node is None:
            return None
        return node.layer(self.tables_marker, self.pages_marker)

    def value_ms(self, acc: int, value: int) -> float:
        """Timing metrics in ms (``nsTiming`` metrics count ns)."""
        if self.metric_type.get(acc) == "nsTiming":
            return value / 1e6
        return float(value)


class View:
    def __init__(self, log: EventLog, executions: list[Execution],
                 stages: list[Stage]):
        self.log = log
        self.executions = executions
        self.stages = stages

    @property
    def tasks(self) -> list[Task]:
        return [t for s in self.stages for t in s.tasks]

    def _accs(self, layer: str, metric: str) -> list[int]:
        accs = {a for e in self.executions for a in e.accums}
        return [a for a in accs if self.log.metric_name.get(a) == metric
                and self.log.layer_of(a) == layer]

    def metric(self, layer: str, metric: str) -> float:
        """A node metric summed over the stages of this view plus the
        updates the Spark driver made, in ms for timings."""
        total = 0.0
        for acc in self._accs(layer, metric):
            value = sum(s.accums.get(acc, 0) for s in self.stages)
            value += self.log.driver_accums.get(acc, 0)
            total += self.log.value_ms(acc, value)
        return total

    def stage_tasks_with(self, layer: str, metric: str) -> list[tuple[Stage, list[int]]]:
        """Per stage that updated ``layer``'s ``metric``: each task's
        update (0 for tasks that reported none)."""
        accs = set(self._accs(layer, metric))
        out = []
        for st in self.stages:
            if not accs & set(st.accums):
                continue
            out.append((st, [sum(t.accums.get(a, 0) for a in accs)
                             for t in st.tasks]))
        return out

    def has_layer(self, exe: Execution, layer: str) -> bool:
        return any(self.log.layer_of(a) == layer for a in exe.accums)
