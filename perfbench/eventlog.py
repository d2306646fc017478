"""Per-layer totals from Spark's own event log.

The traced run starts its session with ``spark.eventLog.enabled=true``
and ``spark.eventLog.compress=false`` and tags every call with
``SparkContext.setJobDescription(tag)``. Spark copies the description
into each job's properties, so every stage and every SQL execution can
be attributed to the tag that caused it. Two sources are summed:

- SQL operator metrics (``time to run Python workers``, ``shuffle bytes
  written`` ...): the plan of each execution, including the plans AQE
  re-emits, maps accumulator ids to (operator, metric); task-end and
  driver accumulator updates give their values.
- task metrics (GC time, spill): summed per stage.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


def _event_files(log_dir: str) -> list[str]:
    files = []
    for root, _, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in names
                  if not n.startswith(".") and not n.startswith("appstatus")]
    # rolling logs are events_<n>_<app>; order by n so events stay in sequence
    def order(p):
        parts = os.path.basename(p).split("_")
        return (os.path.dirname(p), int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0)
    return sorted(files, key=order)


class EventLog:
    def __init__(self, log_dir: str):
        self._acc_meta: dict[int, tuple[int, str, str]] = {}  # id -> (exec, node, metric)
        self._acc_total: dict[int, float] = defaultdict(float)
        self._stage_tasks: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._tag_execs: dict[str, set[int]] = defaultdict(set)
        self._tag_stages: dict[str, set[int]] = defaultdict(set)
        for path in _event_files(log_dir):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    self._add(json.loads(line))

    def _walk_plan(self, exec_id: int, node: dict) -> None:
        for m in node.get("metrics", ()):
            self._acc_meta[m["accumulatorId"]] = (exec_id, node["nodeName"], m["name"])
        for child in node.get("children", ()):
            self._walk_plan(exec_id, child)

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind in (_SQL_START, _SQL_AQE):
            self._walk_plan(e["executionId"], e["sparkPlanInfo"])
        elif kind == _DRIVER_ACCUM:
            for acc_id, value in e["accumUpdates"]:
                self._acc_total[acc_id] += value
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            tag = props.get("spark.job.description")
            if tag is None:
                return
            self._tag_stages[tag].update(e["Stage IDs"])
            if "spark.sql.execution.id" in props:
                self._tag_execs[tag].add(int(props["spark.sql.execution.id"]))
        elif kind == "SparkListenerTaskEnd":
            for acc in e["Task Info"].get("Accumulables", ()):
                # SQL metric updates are logged as strings, task metrics as numbers
                try:
                    self._acc_total[acc["ID"]] += float(acc["Update"])
                except (KeyError, TypeError, ValueError):
                    pass
            tm = e.get("Task Metrics")
            if not tm:
                return
            s = self._stage_tasks[e["Stage ID"]]
            s["gc_ms"] += tm["JVM GC Time"]
            s["spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]

    def sql(self, tag: str, node: str, metric: str) -> float:
        """Sum of one operator metric over every execution tagged ``tag``;
        ``node`` matches operator names by prefix. Timing metrics are in
        ms (``nsTiming`` ones in ns), sizes in bytes."""
        execs = self._tag_execs.get(tag, set())
        return float(sum(
            self._acc_total.get(acc_id, 0.0)
            for acc_id, (ex, name, mname) in self._acc_meta.items()
            if ex in execs and name.startswith(node) and mname == metric
        ))

    def task(self, tag: str, field: str) -> float:
        """Sum of a task metric (gc_ms, spill_bytes) over every stage
        tagged ``tag``."""
        return float(sum(self._stage_tasks[s][field]
                         for s in self._tag_stages.get(tag, ()) if s in self._stage_tasks))
