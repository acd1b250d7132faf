"""Spark's own SQL-node and task metrics, read back from the event log
after each action of the traced run.

Each traced action runs under a unique job description. Spark copies it
into every SQL execution the action starts (including executions a
query builds while it is being planned), so the events of one action
can be picked out of the log once its last SQLExecutionEnd is written.
SQL metric values are the sums of the per-task accumulator updates plus
the driver-side updates, keyed by the accumulator ids that the plan (and
every adaptive re-plan) declares.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Dict, List, Optional, Set, Tuple

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
SQL_AQE = ("org.apache.spark.sql.execution.ui."
           "SparkListenerSQLAdaptiveExecutionUpdate")
SQL_DRIVER_ACC = ("org.apache.spark.sql.execution.ui."
                  "SparkListenerDriverAccumUpdates")
PY_TIME = "time to run Python workers"


@dataclass
class Task:
    stage: int
    launch_s: float
    finish_s: float
    run_s: float
    input_bytes: int
    shuffle_read_bytes: int
    peak_mem_bytes: int
    accums: Set[int]

    @property
    def duration(self) -> float:
        return self.finish_s - self.launch_s


@dataclass
class ActionMetrics:
    """Everything Spark reported for one traced action."""

    # accumulator id -> (plan node uid, node name, metric name, type)
    metric_defs: Dict[int, Tuple[int, str, str, str]] = field(
        default_factory=dict)
    values: Dict[int, int] = field(default_factory=dict)
    tasks: List[Task] = field(default_factory=list)
    # stage id -> (submitted, completed, name)
    stages: Dict[int, Tuple[float, float, str]] = field(default_factory=dict)
    executions: int = 0

    def total(self, metric: str) -> int:
        """Sum of a SQL metric over every node that declares it. Raw
        units: bytes, counts, ms for 'timing' metrics, ns for
        'nsTiming' metrics."""
        return sum(self.values.get(a, 0)
                   for a, (_, _, m, _) in self.metric_defs.items()
                   if m == metric)

    def python_total(self, metric: str) -> int:
        """Sum of a SQL metric over the Python (Arrow UDF) nodes only."""
        py = {u for u, _, m, _ in self.metric_defs.values() if m == PY_TIME}
        return sum(self.values.get(a, 0)
                   for a, (u, _, m, _) in self.metric_defs.items()
                   if m == metric and u in py)

    def python_accums(self) -> Set[int]:
        return {a for a, (_, _, m, _) in self.metric_defs.items()
                if m == PY_TIME}

    def python_stage_tasks(self) -> Dict[int, List[Task]]:
        """Tasks grouped by stage, for stages that ran a Python node."""
        py = self.python_accums()
        out: Dict[int, List[Task]] = {}
        for t in self.tasks:
            if t.accums & py:
                out.setdefault(t.stage, []).append(t)
        return out

    def merge(self, other: "ActionMetrics") -> None:
        self.metric_defs.update(other.metric_defs)
        for k, v in other.values.items():
            self.values[k] = self.values.get(k, 0) + v
        self.tasks.extend(other.tasks)
        self.stages.update(other.stages)
        self.executions += other.executions


class EventLog:
    """Incremental reader of the (single, uncompressed) event log file
    that the traced session writes."""

    def __init__(self, log_dir: Path):
        self.log_dir = log_dir
        self._path: Optional[Path] = None
        self._offset = 0
        self._tail = b""
        self._events: List[dict] = []

    def _read_new(self) -> None:
        if self._path is None:
            files = sorted(self.log_dir.glob("*"))
            if not files:
                return
            self._path = files[0]
        with open(self._path, "rb") as fh:
            fh.seek(self._offset)
            chunk = fh.read()
        self._offset += len(chunk)
        data = self._tail + chunk
        lines = data.split(b"\n")
        self._tail = lines.pop()
        self._events.extend(json.loads(line) for line in lines if line)

    def skip(self) -> None:
        """Drop everything logged so far (work that was not traced)."""
        self._read_new()
        self._events = []

    def action(self, description: str, timeout_s: float = 60.0
               ) -> ActionMetrics:
        """Wait until every SQL execution started under `description`
        has ended in the log, then consume and aggregate its events."""
        deadline = time.time() + timeout_s
        while True:
            self._read_new()
            started = {e["executionId"] for e in self._events
                       if e["Event"] == SQL_START
                       and e.get("description") == description}
            ended = {e["executionId"] for e in self._events
                     if e["Event"] == SQL_END}
            if started and started <= ended:
                break
            if time.time() > deadline:
                raise TimeoutError(
                    f"event log: action {description!r} not complete "
                    f"after {timeout_s}s ({len(started)} started)")
            time.sleep(0.02)
        return self._consume(description, started)

    def _consume(self, description: str, exec_ids: Set[int]
                 ) -> ActionMetrics:
        m = ActionMetrics(executions=len(exec_ids))
        stage_ids: Set[int] = set()
        for e in self._events:
            ev = e["Event"]
            if ev in (SQL_START, SQL_AQE) and e["executionId"] in exec_ids:
                _collect_defs(e["sparkPlanInfo"], m.metric_defs)
            elif ev == SQL_DRIVER_ACC and e["executionId"] in exec_ids:
                for acc, val in e["accumUpdates"]:
                    m.values[acc] = m.values.get(acc, 0) + int(val)
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                sid = props.get("spark.sql.execution.id")
                if (props.get("spark.job.description") == description
                        or (sid is not None and int(sid) in exec_ids)):
                    stage_ids.update(e.get("Stage IDs", []))
        for e in self._events:
            ev = e["Event"]
            if ev == "SparkListenerTaskEnd" and e["Stage ID"] in stage_ids:
                t = _task(e, m)
                if t is not None:
                    m.tasks.append(t)
            elif (ev == "SparkListenerStageCompleted"
                  and e["Stage Info"]["Stage ID"] in stage_ids):
                si = e["Stage Info"]
                m.stages[si["Stage ID"]] = (
                    si.get("Submission Time", 0) / 1000.0,
                    si.get("Completion Time", 0) / 1000.0,
                    si.get("Stage Name", ""))
        # one action runs at a time and its last event is written before
        # its SQLExecutionEnd, so nothing read so far belongs to another
        self._events = []
        return m


def _collect_defs(info: dict, out: Dict[int, Tuple[int, str, str, str]]
                  ) -> None:
    # every plan-info dict is alive for the whole consume, so its id()
    # names one plan node
    uid = id(info)
    for mt in info.get("metrics", []):
        out[mt["accumulatorId"]] = (uid, info["nodeName"], mt["name"],
                                    mt["metricType"])
    for child in info.get("children", []):
        _collect_defs(child, out)


def _task(e: dict, m: ActionMetrics) -> Optional[Task]:
    info = e.get("Task Info") or {}
    tm = e.get("Task Metrics") or {}
    if not info or info.get("Failed") or info.get("Killed"):
        return None
    accums = set()
    for a in info.get("Accumulables", []):
        aid = a.get("ID")
        if aid in m.metric_defs and a.get("Update") is not None:
            m.values[aid] = m.values.get(aid, 0) + int(a["Update"])
            accums.add(aid)
    sr = tm.get("Shuffle Read Metrics") or {}
    im = tm.get("Input Metrics") or {}
    return Task(
        stage=e["Stage ID"],
        launch_s=info.get("Launch Time", 0) / 1000.0,
        finish_s=info.get("Finish Time", 0) / 1000.0,
        run_s=tm.get("Executor Run Time", 0) / 1000.0,
        input_bytes=int(im.get("Bytes Read", 0)),
        shuffle_read_bytes=int(sr.get("Remote Bytes Read", 0))
        + int(sr.get("Local Bytes Read", 0)),
        peak_mem_bytes=int(tm.get("Peak Execution Memory", 0)),
        accums=accums)
