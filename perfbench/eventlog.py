"""Reader for Spark's JSON event log (``spark.eventLog.enabled``).

The benchmark switches the log on for traced runs only and attributes
jobs to its own spans by submission time: one client drives the
session, so every job submitted inside a span's [start, end] window
belongs to it.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


@dataclass
class Stage:
    id: int
    tasks: list[dict] = field(default_factory=list)
    accum: dict[str, int] = field(default_factory=dict)  # name -> value
    accum_ids: set[int] = field(default_factory=set)


@dataclass
class EventLog:
    jobs: dict[int, tuple[int, list[int]]] = field(default_factory=dict)  # id -> (submit ms, stage ids)
    stages: dict[int, Stage] = field(default_factory=dict)
    sql: dict[int, dict] = field(default_factory=dict)  # execution id -> start, end, plan
    json_scan_metrics: set[int] = field(default_factory=set)  # accumulator ids of "Scan json" nodes

    def jobs_in(self, start_ms: float, end_ms: float) -> list[int]:
        return [j for j, (t, _) in self.jobs.items() if start_ms <= t <= end_ms]

    def stages_of(self, job_ids: list[int]) -> list[Stage]:
        ids = {s for j in job_ids for s in self.jobs[j][1]}
        return [self.stages[s] for s in sorted(ids) if s in self.stages and self.stages[s].tasks]

    def sql_in(self, start_ms: float, end_ms: float) -> list[dict]:
        return [e for e in self.sql.values() if start_ms <= e["start"] <= end_ms and "end" in e]


def read(log_dir: str) -> EventLog:
    log = EventLog()
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs)
    for path in paths:
        with open(path, errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                _add(log, ev)
    return log


def _scan_metrics(log: EventLog, node: dict) -> None:
    """Collect the metric ids of every JSON file-scan node. The plan of an
    InMemoryTableScan carries its cached plan, so a scan whose output is
    served from cache keeps its ids but receives no updates."""
    if node.get("nodeName", "").startswith("Scan json"):
        log.json_scan_metrics.update(m["accumulatorId"] for m in node.get("metrics", []))
    for child in node.get("children", []):
        _scan_metrics(log, child)


def _stage(log: EventLog, sid: int) -> Stage:
    return log.stages.setdefault(sid, Stage(sid))


def _add(log: EventLog, ev: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        log.jobs[ev["Job ID"]] = (ev["Submission Time"], list(ev.get("Stage IDs", [])))
    elif kind == "SparkListenerStageCompleted":
        si = ev["Stage Info"]
        st = _stage(log, si["Stage ID"])
        for a in si.get("Accumulables", []):
            st.accum[a.get("Name", "")] = st.accum.get(a.get("Name", ""), 0) + _num(a.get("Value"))
        st.accum_ids.update(a["ID"] for a in si.get("Accumulables", []) if "ID" in a)
    elif kind == "SparkListenerTaskEnd":
        ti, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics", {})
        _stage(log, ev["Stage ID"]).tasks.append(
            {
                "wall_ms": ti.get("Finish Time", 0) - ti.get("Launch Time", 0),
                "run_ms": tm.get("Executor Run Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "input_b": tm.get("Input Metrics", {}).get("Bytes Read", 0),
                "shuffle_read_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write_b": tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                "spill_b": tm.get("Disk Bytes Spilled", 0),
            }
        )
    elif kind == SQL_START:
        log.sql[ev["executionId"]] = {
            "start": ev["time"],
            "plan": ev.get("physicalPlanDescription", ""),
        }
        _scan_metrics(log, ev.get("sparkPlanInfo", {}))
    elif kind == SQL_AQE_UPDATE:
        _scan_metrics(log, ev.get("sparkPlanInfo", {}))
    elif kind == SQL_END and ev["executionId"] in log.sql:
        log.sql[ev["executionId"]]["end"] = ev["time"]


def exec_metrics(log: EventLog, job_ids: list[int], wall_s: float, cores: int) -> dict[str, float]:
    """The ``exec.*`` layer over the given jobs."""
    stages = log.stages_of(job_ids)
    tasks = [t for s in stages for t in s.tasks]
    busy_s = sum(t["run_ms"] for t in tasks) / 1000.0
    skew = 1.0
    for s in stages:
        if len(s.tasks) >= 2:
            walls = [t["wall_ms"] for t in s.tasks]
            med = statistics.median(walls)
            if med > 0:
                skew = max(skew, max(walls) / med)
    mb = 1 / (1024 * 1024)
    return {
        "exec.jobs": len(job_ids),
        "exec.stages": len(stages),
        "exec.tasks": len(tasks),
        "exec.task_busy_s": busy_s,
        "exec.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "exec.core_util": busy_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "exec.task_skew": skew,
        "exec.input_mb": sum(t["input_b"] for t in tasks) * mb,
        "exec.shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) * mb,
        "exec.shuffle_read_mb": sum(t["shuffle_read_b"] for t in tasks) * mb,
        "exec.spill_mb": sum(t["spill_b"] for t in tasks) * mb,
        "exec.python_bytes_mb": sum(
            s.accum.get(PY_SENT, 0) + s.accum.get(PY_RETURNED, 0) for s in stages
        )
        * mb,
    }


def json_scan_stages(log: EventLog, job_ids: list[int]) -> int:
    """Stages in which a JSON file scan actually ran."""
    return sum(1 for s in log.stages_of(job_ids) if s.accum_ids & log.json_scan_metrics)
