"""Spark event-log reader: per-span Spark metrics from one application's
uncompressed event log (``spark.eventLog.compress=false``).

The benchmark tags every span with ``SparkContext.setJobGroup(span)``;
stages carry the group in their properties and SQL executions in
``jobGroupId``, so each task and each SQL execution is attributed to the
span that caused it. Task metrics come from ``SparkListenerTaskEnd``
(executor CPU, shuffle, spill, peak execution memory) and from the SQL
accumulables the Python runner reports (time to start/initialize/run
Python workers, data sent to/returned from Python workers).
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict

_PY_ACCUMS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
_WRITE_RE = re.compile(
    r"InsertIntoHadoopFsRelationCommand\s*\nInput: \[\]\nArguments: "
    r"\S*?/([A-Za-z0-9_]+)\.parquet,")


def _events(app_dir: str):
    files = sorted(glob.glob(os.path.join(app_dir, "events_*"))) \
        or [app_dir]
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def find_app(log_dir: str, app_id: str) -> str:
    """Path of ``app_id``'s log under ``log_dir``: the rolling
    ``eventlog_v2_<app>`` directory, or the single-file log."""
    for name in (f"eventlog_v2_{app_id}", app_id):
        path = os.path.join(log_dir, name)
        if os.path.exists(path):
            return path
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


class SpanMetrics:
    """Accumulated Spark metrics of one span (one job group)."""

    def __init__(self) -> None:
        self.jobs: set[int] = set()
        self.tasks = 0
        self.failed_tasks = 0
        self.executor_cpu_s = 0.0
        self.shuffle_fetch_wait_s = 0.0
        self.shuffle_read_bytes = 0
        self.shuffle_write_bytes = 0
        self.spill_bytes = 0
        self.peak_exec_mem_bytes = 0
        self.python = dict.fromkeys(_PY_ACCUMS.values(), 0.0)
        self.stage_task_times: dict[int, list[float]] = defaultdict(list)

    def add_task(self, stage: int, info: dict, m: dict | None) -> None:
        self.tasks += 1
        if info.get("Failed") or info.get("Killed"):
            self.failed_tasks += 1
        for a in info.get("Accumulables", []):
            key = _PY_ACCUMS.get(a.get("Name"))
            if key is not None:
                v = float(a.get("Update") or 0)
                self.python[key] += v / 1000.0 if key.endswith("_s") else v
        if not m:
            return
        self.executor_cpu_s += m["Executor CPU Time"] / 1e9
        sr = m.get("Shuffle Read Metrics", {})
        self.shuffle_fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
        self.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0))
        sw = m.get("Shuffle Write Metrics", {})
        self.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
        self.spill_bytes += m.get("Disk Bytes Spilled", 0)
        self.peak_exec_mem_bytes = max(self.peak_exec_mem_bytes,
                                       m.get("Peak Execution Memory", 0))
        self.stage_task_times[stage].append(m["Executor Run Time"])

    def task_skew(self) -> float:
        """max/median task run time over the stage where it is largest,
        among stages of at least 4 tasks (1.0 when there is none)."""
        worst = 1.0
        for times in self.stage_task_times.values():
            med = statistics.median(times) if len(times) >= 4 else 0
            if med > 0:
                worst = max(worst, max(times) / med)
        return worst


def read(app_dir: str) -> dict:
    """{"groups": {group: SpanMetrics}, "sql": [execution dicts]}.

    Each SQL execution dict has group, duration_s, write (the parquet
    table name it writes, or None), plan (the physical plan text), jobs
    and metrics (a SpanMetrics of its own tasks)."""
    stage_group: dict[int, str] = {}
    stage_exec: dict[int, int] = {}
    groups: dict[str, SpanMetrics] = defaultdict(SpanMetrics)
    sql: dict[int, dict] = {}
    for e in _events(app_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            grp = props.get("spark.jobGroup.id") or "-"
            groups[grp].jobs.add(e["Job ID"])
            ex = props.get("spark.sql.execution.id")
            if ex is not None and int(ex) in sql:
                sql[int(ex)]["jobs"].add(e["Job ID"])
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            sid = e["Stage Info"]["Stage ID"]
            stage_group[sid] = props.get("spark.jobGroup.id") or "-"
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                stage_exec[sid] = int(ex)
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            info, m = e["Task Info"], e.get("Task Metrics")
            groups[stage_group.get(sid, "-")].add_task(sid, info, m)
            ex = stage_exec.get(sid)
            if ex in sql:
                sql[ex]["metrics"].add_task(sid, info, m)
        elif kind.endswith("SQLExecutionStart"):
            plan = e.get("physicalPlanDescription", "")
            w = _WRITE_RE.search(plan)
            sql[e["executionId"]] = {
                "group": e.get("jobGroupId") or "-",
                "start": e["time"], "end": e["time"],
                "write": w.group(1) if w else None,
                "plan": plan, "jobs": set(), "metrics": SpanMetrics(),
            }
        elif kind.endswith("SQLExecutionEnd"):
            if e["executionId"] in sql:
                sql[e["executionId"]]["end"] = e["time"]
    execs = []
    for x in sql.values():
        x["duration_s"] = (x["end"] - x["start"]) / 1e3
        execs.append(x)
    return {"groups": dict(groups), "sql": execs}
