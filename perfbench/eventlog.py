"""Folds of Spark's event log and of the benchmark's own spans.

Spark writes one JSON event per line (``eventlog_v2_<app>/events_*``
when ``spark.eventLog.enabled`` is set). Every job carries the job group
the benchmark set before running a query (``pb:<pass>:<query>``), so
jobs, their stages and their tasks fold onto query executions without
anything inside the engine being instrumented.

All functions here are pure: they take parsed events or intervals and
return numbers, so ``test_folds.py`` checks them on a small recorded log.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def read_events(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir``, in order."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of closed intervals (overlaps counted once)."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(_clip(children, start, end))


def driver_gap(start: float, end: float, stages: list[tuple[float, float]]) -> float:
    """Wall time of a query during which no stage of it was running:
    planning, codegen, scheduling and driver-side Python."""
    return self_time(start, end, stages)


def task_skew(stage_task_times: list[list[float]]) -> float | None:
    """Sum over stages of the slowest task's run time, divided by the sum
    over stages of the mean task run time. 1.0 means every stage's tasks
    were even; stages of one task carry no skew and are skipped."""
    num = den = 0.0
    for times in stage_task_times:
        if len(times) < 2:
            continue
        num += max(times)
        den += sum(times) / len(times)
    return num / den if den > 0 else None


def _plan_metrics(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"])
    for child in plan.get("children", ()):
        _plan_metrics(child, out)


def new_group() -> dict:
    """The fold of a job group that ran no job."""
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
        "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_b": 0, "shuffle_read_b": 0, "spill_b": 0,
        "stage_spans": [], "job_spans": [], "stage_task_run_ms": [],
        "join_rows": 0,
    }


def fold(events: list[dict]) -> dict[str, dict]:
    """Per job group: jobs, stages and tasks with their timings.

    Returns ``{group: {"jobs", "stages", "tasks", "failed_tasks",
    "run_s", "cpu_s", "gc_s", "shuffle_write_b", "shuffle_read_b",
    "spill_b", "stage_spans", "job_spans", "stage_task_run_ms",
    "join_rows"}}``. Times are seconds; spans are epoch seconds.
    ``join_rows`` is the largest "number of output rows" of any join
    node in the group's SQL plans: the pair-producing join's output."""
    group_of_job: dict[int, str] = {}
    group_of_stage: dict[int, str] = {}
    group_of_exec: dict[int, str] = {}
    acc_node: dict[int, tuple[str, str, int]] = {}
    job_start: dict[int, float] = {}
    tasks_of_stage: dict[int, list[float]] = defaultdict(list)
    acc_sum: dict[int, int] = defaultdict(int)
    out: dict[str, dict] = defaultdict(new_group)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            jid = e["Job ID"]
            group_of_job[jid] = group
            job_start[jid] = e["Submission Time"] / 1e3
            out[group]["jobs"] += 1
            for sid in e["Stage IDs"]:
                group_of_stage[sid] = group
            if "spark.sql.execution.id" in props:
                group_of_exec[int(props["spark.sql.execution.id"])] = group
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in group_of_job:
                out[group_of_job[jid]]["job_spans"].append(
                    (job_start[jid], e["Completion Time"] / 1e3)
                )
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            group = group_of_stage.get(sid)
            if group is None or "Submission Time" not in info:
                continue
            span = (info["Submission Time"] / 1e3, info["Completion Time"] / 1e3)
            g = out[group]
            g["stages"] += 1
            g["stage_spans"].append(span)
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            group = group_of_stage.get(sid)
            if group is None:
                continue
            g = out[group]
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            g["tasks"] += 1
            g["failed_tasks"] += bool(info.get("Failed"))
            run_ms = m.get("Executor Run Time", 0)
            tasks_of_stage[sid].append(run_ms)
            g["run_s"] += run_ms / 1e3
            g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            g["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
            g["spill_b"] += m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", ()):
                # SQL metrics carry their per-task update as a string
                if acc.get("Metadata") == "sql" and str(acc.get("Update")).isdigit():
                    acc_sum[acc["ID"]] += int(acc["Update"])
        elif kind in (_SQL_START, _SQL_UPDATE):
            plan = e.get("sparkPlanInfo")
            if plan:
                nodes: dict[int, tuple[str, str]] = {}
                _plan_metrics(plan, nodes)
                for acc, (node, metric) in nodes.items():
                    acc_node[acc] = (node, metric, e["executionId"])
    for sid, times in tasks_of_stage.items():
        out[group_of_stage[sid]]["stage_task_run_ms"].append(times)
    for acc, (node, metric, exec_id) in acc_node.items():
        group = group_of_exec.get(exec_id)
        if group and metric == "number of output rows" and (
            "Join" in node or "CartesianProduct" in node
        ):
            g = out[group]
            g["join_rows"] = max(g["join_rows"], acc_sum.get(acc, 0))
    return dict(out)
