"""Offline parser for an uncompressed Spark event log.

Aggregates the log per job group (``SparkContext.setJobGroup``): jobs,
stages (run and skipped), tasks, executor time, shuffle and spill bytes,
output bytes, failed tasks, time in stages that run a Python/Arrow UDF
node, and planning time (SQL execution start to its first job submit)."""

from __future__ import annotations

import json
from collections import defaultdict

PYTHON_NODES = ("Python", "Pandas", "InArrow", "ArrowEval")

FIELDS = (
    "jobs", "stages", "skipped_stages", "tasks", "single_task_stages",
    "failed_tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_read_b",
    "shuffle_write_b", "spill_b", "output_b", "python_ms", "plan_ms",
)


def _python_accums(plan: dict, out: set[int]) -> None:
    """Accumulator ids of every metric on a Python/Arrow UDF node."""
    if any(k in plan.get("nodeName", "") for k in PYTHON_NODES):
        out.update(m["accumulatorId"] for m in plan.get("metrics", []))
    for child in plan.get("children", []):
        _python_accums(child, out)


def parse(lines) -> dict[str, dict[str, float]]:
    """{job group: {field: total}} over the log's lines."""
    stage_group: dict[int, str] = {}  # group of the job that ran the stage
    python_accums: set[int] = set()
    python_stages: set[int] = set()
    exec_start: dict[str, int] = {}
    exec_first_job: dict[str, tuple[int, str]] = {}
    task_ms: dict[int, float] = defaultdict(float)
    groups: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = groups[props.get("spark.jobGroup.id") or ""]
            g["jobs"] += 1
            # every listed stage counts as skipped until it is submitted
            g["skipped_stages"] += len(ev["Stage Infos"])
            xid = props.get("spark.sql.execution.id")
            if xid is not None and xid not in exec_first_job:
                exec_first_job[xid] = (ev["Submission Time"], props.get("spark.jobGroup.id") or "")
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            if info.get("Stage Attempt ID", 0) == 0:
                name = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                stage_group[info["Stage ID"]] = name
                g = groups[name]
                g["stages"] += 1
                g["skipped_stages"] -= 1
                g["single_task_stages"] += info["Number of Tasks"] == 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if any(a.get("ID") in python_accums for a in info.get("Accumulables", [])):
                python_stages.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(ev["Stage ID"], "")]
            m = ev.get("Task Metrics") or {}
            g["tasks"] += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                g["failed_tasks"] += 1
            g["run_ms"] += m.get("Executor Run Time", 0)
            g["cpu_ns"] += m.get("Executor CPU Time", 0)
            g["gc_ms"] += m.get("JVM GC Time", 0)
            g["spill_b"] += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g["output_b"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            task_ms[ev["Stage ID"]] += m.get("Executor Run Time", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exec_start[str(ev["executionId"])] = ev["time"]
            _python_accums(ev.get("sparkPlanInfo", {}), python_accums)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _python_accums(ev.get("sparkPlanInfo", {}), python_accums)

    for sid in python_stages:
        groups[stage_group.get(sid, "")]["python_ms"] += task_ms[sid]
    for xid, (submit, g) in exec_first_job.items():
        if xid in exec_start:
            groups[g]["plan_ms"] += max(0, submit - exec_start[xid])
    return dict(groups)


def parse_dir(path: str) -> dict[str, dict[str, float]]:
    """Parse the event log Spark wrote under ``path``: one file, or one
    directory of rolled ``events_<n>_*`` files read in order."""
    import os

    files = []
    for d, _, fs in os.walk(path):
        files += [os.path.join(d, f) for f in fs if not f.startswith(("appstatus", "."))]

    def index(p):
        name = os.path.basename(p)
        return int(name.split("_")[1]) if name.startswith("events_") else 0

    def lines():
        for p in sorted(files, key=index):
            with open(p) as f:
                yield from f

    return parse(lines())
