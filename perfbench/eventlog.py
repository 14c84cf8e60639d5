"""Reader for Spark's JSON-lines event log (``spark.eventLog.enabled``).

The benchmark tags each step with the ``perfbench.phase`` local property,
which Spark copies into every job's properties. The reader groups stages,
tasks and SQL executions by that phase and answers the per-layer questions:
stage and task times, shuffle bytes and records per exchange, fetch wait,
bytes sent to and returned from Python workers, and the wall of a SQL
execution picked by what its plan writes.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import Counter, defaultdict

PHASE_PROPERTY = "perfbench.phase"
_SQL_PREFIX = "org.apache.spark.sql.execution.ui."


def _walk(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


class EventLog:
    def __init__(self, log_dir: str) -> None:
        self.stage_phase: dict[int, str] = {}
        self.exec_phase: dict[int, str] = {}
        self.stage_wall_ms: dict[int, int] = {}
        self.task_ms: dict[int, list[int]] = defaultdict(list)
        #: per stage: sum of task-level updates by accumulator id
        self.stage_acc: dict[int, Counter] = defaultdict(Counter)
        #: per stage: sum of the task metrics fetch_wait_ms, shuffle_write_bytes
        self.stage_metrics: dict[int, Counter] = defaultdict(Counter)
        #: per SQL execution: sum of driver-side updates by accumulator id
        self.exec_acc: dict[int, Counter] = defaultdict(Counter)
        #: SQL execution id -> every plan version seen (initial + adaptive)
        self.plans: dict[int, list[dict]] = defaultdict(list)
        self.exec_times: dict[int, list[int]] = {}
        for name in sorted(os.listdir(log_dir)):
            with open(os.path.join(log_dir, name)) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"].removeprefix(_SQL_PREFIX)
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            phase = props.get(PHASE_PROPERTY, "")
            for sid in e["Stage IDs"]:
                self.stage_phase[sid] = phase
            if "spark.sql.execution.id" in props:
                self.exec_phase.setdefault(int(props["spark.sql.execution.id"]), phase)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                self.stage_wall_ms[info["Stage ID"]] = info["Completion Time"] - info["Submission Time"]
        elif kind == "SparkListenerTaskEnd":
            self._task_end(e)
        elif kind == "SparkListenerSQLExecutionStart":
            self.exec_times[e["executionId"]] = [e["time"], e["time"]]
            self.plans[e["executionId"]].append(e["sparkPlanInfo"])
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            self.plans[e["executionId"]].append(e["sparkPlanInfo"])
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                self.exec_acc[e["executionId"]][acc_id] += int(value)
        elif kind == "SparkListenerSQLExecutionEnd":
            if e["executionId"] in self.exec_times:
                self.exec_times[e["executionId"]][1] = e["time"]

    def _task_end(self, e: dict) -> None:
        sid = e["Stage ID"]
        info = e["Task Info"]
        self.task_ms[sid].append(info["Finish Time"] - info["Launch Time"])
        for acc in info.get("Accumulables", ()):
            if acc.get("Metadata") == "sql" and "Update" in acc:
                self.stage_acc[sid][acc["ID"]] += int(acc["Update"])
        tm = e.get("Task Metrics") or {}
        m = self.stage_metrics[sid]
        m["fetch_wait_ms"] += tm.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0)
        m["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)

    # -- selection ---------------------------------------------------------

    def stages(self, phase: str) -> list[int]:
        return sorted(s for s, p in self.stage_phase.items() if p == phase)

    def executions(self, phase: str) -> list[int]:
        return sorted(x for x, p in self.exec_phase.items() if p == phase)

    def _node_accs(self, phase: str, pick, metric_name: str | None = None) -> set[int]:
        """Accumulator ids of the metrics (all, or those named
        ``metric_name``) of the plan nodes ``pick(node, has_exchange_below)``
        selects, over every plan version of the phase's executions."""
        ids: set[int] = set()
        for x in self.executions(phase):
            for plan in self.plans[x]:
                for node in _walk(plan):
                    below = any(n["nodeName"] == "Exchange" for n in _walk(node) if n is not node)
                    if pick(node, below):
                        ids.update(m["accumulatorId"] for m in node.get("metrics", ())
                                   if metric_name in (None, m["name"]))
        return ids

    # -- metrics -----------------------------------------------------------

    def task_count(self, phase: str) -> int:
        return sum(len(self.task_ms[s]) for s in self.stages(phase))

    def total(self, phase: str, metric: str) -> int:
        """Sum of one task metric (see ``_task_end``) over the phase."""
        return sum(self.stage_metrics[s][metric] for s in self.stages(phase))

    def sql_metric(self, phase: str, metric_name: str, pick=lambda node, below: True) -> int:
        """Sum over the phase of one SQL metric (task and driver updates),
        on the plan nodes ``pick`` selects."""
        ids = self._node_accs(phase, pick, metric_name)
        tasks = sum(v for s in self.stages(phase) for i, v in self.stage_acc[s].items() if i in ids)
        driver = sum(v for x in self.executions(phase) for i, v in self.exec_acc[x].items() if i in ids)
        return tasks + driver

    def python_stages(self, phase: str, after_exchange: bool) -> list[int]:
        """Stages running a MapInArrow node that reads (``after_exchange``)
        or does not read an exchange: pass 2 and pass 1 of extraction."""
        ids = self._node_accs(
            phase, lambda n, below: n["nodeName"] == "MapInArrow" and below == after_exchange
        )
        return [s for s in self.stages(phase) if ids & self.stage_acc[s].keys()]

    def stage_seconds(self, stages: list[int]) -> float:
        return sum(self.stage_wall_ms.get(s, 0) for s in stages) / 1000.0

    def task_skew(self, stages: list[int]) -> float:
        """Largest max/median task time over ``stages`` (1.0 = balanced)."""
        skews = [
            max(self.task_ms[s]) / max(1.0, statistics.median(self.task_ms[s]))
            for s in stages if self.task_ms[s]
        ]
        return max(skews, default=0.0)

    def exchange_metric(self, phase: str, key: str, metric_name: str) -> int:
        """One SQL metric of the hash exchanges partitioning on column ``key``."""
        prefix = f"Exchange hashpartitioning({key}#"
        return self.sql_metric(
            phase, metric_name, lambda n, below: n["simpleString"].startswith(prefix)
        )

    def write_executions(self, phase: str, path_suffix: str) -> list[int]:
        """SQL executions of the phase whose plan inserts into a path ending
        in ``path_suffix`` (the data commit writes ``/data``, the manifest
        ``/_manifest``)."""
        needle = f"{path_suffix},"
        return [
            x for x in self.executions(phase)
            if any("InsertIntoHadoopFsRelationCommand" in n["simpleString"] and needle in n["simpleString"]
                   for plan in self.plans[x] for n in _walk(plan))
        ]

    def execution_span_s(self, first: int, last: int, *, from_end: bool = False) -> float:
        """Seconds from the start (or, with ``from_end``, the end) of
        execution ``first`` to the end of execution ``last``."""
        t0 = self.exec_times[first][1 if from_end else 0]
        return (self.exec_times[last][1] - t0) / 1000.0
