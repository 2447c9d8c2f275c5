"""Task and plan totals from a Spark JSON event log.

The session of a traced run writes its event log under the run's work
directory (UI off). Jobs carry the job group of the span that started
them (``pb:<span id>``), so totals can be taken per span.
"""

from __future__ import annotations

import json


def parse_event_log(path: str) -> dict:
    """Jobs, tasks and SQL plans from one event-log file."""
    stage_job: dict[int, int] = {}
    job_group: dict[int, str | None] = {}
    job_exec: dict[int, int] = {}
    plans: dict[int, dict] = {}
    tasks: list[tuple[int, dict]] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                job_group[jid] = props.get("spark.jobGroup.id")
                if "spark.sql.execution.id" in props:
                    job_exec[jid] = int(props["spark.sql.execution.id"])
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
            elif kind.endswith(("SparkListenerSQLExecutionStart",
                                "SparkListenerSQLAdaptiveExecutionUpdate")):
                # the last plan seen is the one AQE finally executed
                plans[ev["executionId"]] = ev["sparkPlanInfo"]
    return {"stage_job": stage_job, "job_group": job_group,
            "job_exec": job_exec, "plans": plans, "tasks": tasks}


def _exchanges(plan: dict) -> int:
    n = 1 if "Exchange" in plan.get("nodeName", "") else 0
    return n + sum(_exchanges(c) for c in plan.get("children", []))


def totals(log: dict, groups: set[str]) -> dict:
    """Task and plan totals over the jobs whose group is in ``groups``."""
    jobs = {j for j, g in log["job_group"].items() if g in groups}
    out = {"jobs": len(jobs), "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
           "gc_s": 0.0, "shuffle_write": 0, "shuffle_read": 0,
           "input": 0, "spill": 0}
    for sid, m in log["tasks"]:
        if log["stage_job"].get(sid) not in jobs:
            continue
        out["tasks"] += 1
        out["run_s"] += m.get("Executor Run Time", 0) / 1e3
        out["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        out["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
        out["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                + sr.get("Local Bytes Read", 0))
        out["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        out["spill"] += (m.get("Memory Bytes Spilled", 0)
                         + m.get("Disk Bytes Spilled", 0))
    execs = {log["job_exec"][j] for j in jobs if j in log["job_exec"]}
    plans = [log["plans"][e] for e in execs if e in log["plans"]]
    out["exchanges_per_plan"] = (
        sum(_exchanges(p) for p in plans) / len(plans) if plans else 0.0)
    return out
