"""Reduce an uncompressed Spark event log to per-job-group counters.

The benchmark tags every timed call with ``setJobGroup``; this module
reads the JSON-lines event log the traced run writes and rolls it up
per group:

- from ``SparkListenerJobStart`` / ``SparkListenerTaskEnd``: jobs,
  tasks, executor CPU and run time, shuffle bytes written and read,
  spill (memory + disk), input bytes;
- from the physical plans of ``SQLExecutionStart`` and its adaptive
  updates: per-operator SQL metrics (``op.<node>.<metric>``) summed
  from task accumulator updates and driver-side updates, and the
  number of each operator in the final plan of every execution, and
  the file locations its scans read.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_ADAPTIVE = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
)
SQL_DRIVER_ACCUMS = (
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
)

TASK_FIELDS = (
    "tasks",
    "cpu_s",
    "run_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
)


def _node_kind(node_name: str) -> str:
    """Plan node name without its codegen id or table suffix:
    ``Scan parquet `` -> ``Scan``, ``WholeStageCodegen (3)`` ->
    ``WholeStageCodegen``."""
    return node_name.split(" ")[0]


_LOCATION = re.compile(r"Location: \w+(?:\([^)]*\))?\[([^\]]*)\]")


class GroupStats:
    """Counters of one job group."""

    def __init__(self) -> None:
        self.jobs = 0
        self.task = dict.fromkeys(TASK_FIELDS, 0.0)
        self.op_metrics: dict[str, float] = defaultdict(float)
        self.op_counts: dict[str, int] = defaultdict(int)
        self.scan_locations: dict[str, int] = defaultdict(int)

    def as_dict(self) -> dict[str, float]:
        out: dict[str, float] = {"jobs": self.jobs, **self.task}
        out.update(self.op_metrics)
        out.update({f"op.{k}.count": v for k, v in self.op_counts.items()})
        return out


def _walk(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk(child)


def reduce_events(lines) -> dict[str, GroupStats]:
    """{job group: GroupStats} from an iterable of event-log lines.
    Jobs and executions outside any group fall under ``""``."""
    stage_group: dict[int, str] = {}
    exec_group: dict[str, str] = {}
    final_plan: dict[str, dict] = {}
    accum_owner: dict[int, tuple[str, str]] = {}  # id -> (exec, op.metric)
    accum_total: dict[int, float] = defaultdict(float)  # updates by id
    groups: dict[str, GroupStats] = defaultdict(GroupStats)

    def note_plan(exec_id: str, plan: dict) -> None:
        final_plan[exec_id] = plan
        for node in _walk(plan):
            kind = _node_kind(node["nodeName"])
            for m in node.get("metrics", []):
                key = f"op.{kind}.{m['name']}"
                accum_owner[int(m["accumulatorId"])] = (exec_id, key)

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            groups[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            exec_id = props.get("spark.sql.execution.id")
            if exec_id is not None:
                exec_group.setdefault(str(exec_id), group)
        elif kind == "SparkListenerTaskEnd":
            _add_task(groups[stage_group.get(ev["Stage ID"], "")], ev)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if "Update" in acc:
                    accum_total[acc["ID"]] += float(acc["Update"])
        elif kind == SQL_START:
            exec_id = str(ev["executionId"])
            if ev.get("jobGroupId"):
                exec_group[exec_id] = ev["jobGroupId"]
            note_plan(exec_id, ev["sparkPlanInfo"])
        elif kind == SQL_ADAPTIVE:
            note_plan(str(ev["executionId"]), ev["sparkPlanInfo"])
        elif kind == SQL_DRIVER_ACCUMS:
            for acc_id, value in ev.get("accumUpdates", []):
                accum_total[acc_id] += float(value)

    for acc_id, value in accum_total.items():
        if acc_id not in accum_owner:  # not a SQL plan metric
            continue
        exec_id, key = accum_owner[acc_id]
        groups[exec_group.get(exec_id, "")].op_metrics[key] += value
    for exec_id, plan in final_plan.items():
        stats = groups[exec_group.get(exec_id, "")]
        for node in _walk(plan):
            kind = _node_kind(node["nodeName"])
            stats.op_counts[kind] += 1
            loc = _LOCATION.search(node.get("simpleString", ""))
            if kind == "Scan" and loc:
                stats.scan_locations[loc.group(1)] += 1
    return dict(groups)


def _add_task(stats: GroupStats, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    t = stats.task
    t["tasks"] += 1
    t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    t["run_s"] += m.get("Executor Run Time", 0) / 1e3
    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
        "Disk Bytes Spilled", 0
    )
    t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )


class Trace:
    """Counters of a reduced event log, looked up by job group."""

    def __init__(self, groups: dict[str, GroupStats]) -> None:
        self.groups = groups

    @classmethod
    def from_file(cls, path: str) -> "Trace":
        with open(path) as fh:
            return cls(reduce_events(fh))

    def get(self, group: str) -> dict[str, float]:
        stats = self.groups.get(group)
        return stats.as_dict() if stats else {}

    def merged(self, *groups: str) -> dict[str, float]:
        """Counters summed over ``groups``."""
        out: dict[str, float] = defaultdict(float)
        for g in groups:
            for k, v in self.get(g).items():
                out[k] += v
        return dict(out)

    def scans_of(self, group: str, needle: str) -> int:
        """Scan nodes in ``group``'s final plans whose location
        contains ``needle``."""
        stats = self.groups.get(group)
        if stats is None:
            return 0
        return sum(n for loc, n in stats.scan_locations.items() if needle in loc)
