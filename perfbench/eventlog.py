"""Spark event-log parser: per-job-group engine and Python-worker counters.

Reads the JSON-lines event log Spark writes when it runs with
`spark.eventLog.enabled=true` and `spark.eventLog.compress=false`, in
Spark's rolling layout: an `eventlog_v2_*` directory of `events_N_*`
files. Every job is attributed to the job group it was submitted under
(`spark.jobGroup.id`), and every task to its stage's job, so a caller that
sets one job group per span gets that span's counters:

    jobs, stages, tasks, failed_tasks
    exec_run_s        executor run time summed over tasks
    gc_s              JVM GC time summed over tasks
    shuffle_write_mb  shuffle bytes written
    spill_mb          bytes spilled to disk
    py_start_s, py_init_s, py_run_s
                      Spark's "time to start / initialize / run Python
                      workers" SQL metrics, summed over tasks

Jobs submitted outside any group are counted under the group "".
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "exec_run_s", "gc_s",
    "shuffle_write_mb", "spill_mb", "py_start_s", "py_init_s", "py_run_s",
)
PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
}
# SQL metric types whose raw values are milliseconds or nanoseconds
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}
MB = 1024.0 * 1024.0


def log_files(path: str) -> list[str]:
    """The files of the rolling event log (`eventlog_v2_*/events_N_*`,
    Spark's default layout) under the directory `path`, in write order."""
    (app,) = [e for e in os.listdir(path) if e.startswith("eventlog_v2_")]
    app = os.path.join(path, app)

    def index(name: str) -> int:
        return int(re.match(r"events_(\d+)_", name).group(1))

    events = [e for e in os.listdir(app) if e.startswith("events_")]
    return [os.path.join(app, e) for e in sorted(events, key=index)]


def _plan_metric_types(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", ()):
        out[int(m["accumulatorId"])] = m.get("metricType", "")
    for child in plan.get("children", ()):
        _plan_metric_types(child, out)


def parse(path: str) -> dict[str, dict[str, float]]:
    """Counters per job group, for the event log at `path`."""
    groups: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(COUNTERS, 0.0)
    )
    stage_group: dict[int, str] = {}
    metric_type: dict[int, str] = {}
    for name in log_files(path):
        with open(name) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SQLExecutionStart"):
                    _plan_metric_types(ev.get("sparkPlanInfo", {}), metric_type)
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _plan_metric_types(ev.get("sparkPlanInfo", {}), metric_type)
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    g = groups[group]
                    g["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    groups[stage_group.get(sid, "")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    _task(groups[stage_group.get(ev["Stage ID"], "")], ev,
                          metric_type)
    return {k: dict(v) for k, v in groups.items()}


def _task(g: dict[str, float], ev: dict, metric_type: dict[int, str]) -> None:
    g["tasks"] += 1
    info = ev.get("Task Info") or {}
    if info.get("Failed") or ev.get("Task End Reason", {}).get(
        "Reason", "Success"
    ) != "Success":
        g["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    g["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    g["shuffle_write_mb"] += (
        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
    )
    g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
    for acc in info.get("Accumulables", ()):
        key = PY_METRICS.get(acc.get("Name", ""))
        if key is None:
            continue
        scale = _TIME_SCALE.get(metric_type.get(int(acc["ID"]), "timing"), 1e-3)
        g[key] += float(acc.get("Update", 0)) * scale


def total(groups: dict[str, dict[str, float]], names) -> dict[str, float]:
    """Sum the counters of the job groups in `names`."""
    out = dict.fromkeys(COUNTERS, 0.0)
    for n in names:
        for k, v in groups.get(n, {}).items():
            out[k] += v
    return out
