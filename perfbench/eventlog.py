"""Spark event-log parser keyed by job group.

Reads the JSON-lines event log Spark writes when ``spark.eventLog.enabled``
is set (uncompressed), in either layout:

* a single file ``<app-id>`` (or ``<app-id>.inprogress``);
* the rolling layout Spark 4.1 writes by default, a directory
  ``eventlog_v2_<app-id>/`` holding ``events_<n>_<app-id>`` parts.

Every job carries the ``spark.jobGroup.id`` local property that was set in
the submitting thread, and every stage carries the properties of the job
that submitted it, so each task is attributed to exactly one group through
its stage. Jobs submitted while no group was set land under the ``None``
key; a caller that sets a group before each operation and clears it after
should see no such jobs.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field
from statistics import median

GROUP_PROP = "spark.jobGroup.id"

#: SQL metric names summed per group, by the name Spark shows in its UI.
SQL_METRICS = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
    "data sent to Python workers",
    "data returned from Python workers",
    "sort time",
    "time in aggregation build",
    "spill size",
)

#: Plan node whose output rows count as rows examined: the scan of a
#: cached table, before any filter above it.
SCAN_NODE = "InMemoryTableScan"


@dataclass
class StageStats:
    python: bool = False
    task_run_ms: list[int] = field(default_factory=list)


@dataclass
class GroupStats:
    """Counters for every job, stage and task of one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    peak_exec_mem_bytes: int = 0
    scan_rows: int = 0
    #: SQL metric name -> summed task updates, in the metric's raw unit
    #: (ms for timings, bytes for sizes)
    sql: dict[str, int] = field(default_factory=dict)
    stage_stats: dict[int, StageStats] = field(default_factory=dict)

    def python_stage_skew(self) -> float:
        """Max over median task run time of the slowest-skewed stage that
        ran a Python UDF; 0 when no stage did."""
        skews = [
            max(s.task_run_ms) / max(median(s.task_run_ms), 1)
            for s in self.stage_stats.values()
            if s.python and s.task_run_ms
        ]
        return max(skews, default=0.0)


def app_log_path(log_dir: str, app_id: str) -> str:
    """The event log of ``app_id`` under ``log_dir``, in either layout."""
    for name in (f"eventlog_v2_{app_id}", app_id, f"{app_id}.inprogress"):
        path = os.path.join(log_dir, name)
        if os.path.exists(path):
            return path
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def _part_index(name: str) -> int:
    m = re.match(r"events_(\d+)_", name)
    return int(m.group(1)) if m else -1


def read_events(path: str):
    """Yield the events of one application log, rolling parts in order."""
    if os.path.isdir(path):
        parts = sorted(
            (n for n in os.listdir(path) if n.startswith("events_")), key=_part_index
        )
        files = [os.path.join(path, n) for n in parts]
    else:
        files = [path]
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _scan_row_accumulators(plan: dict, out: set[int]) -> None:
    if plan.get("nodeName") == SCAN_NODE:
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _scan_row_accumulators(child, out)


def summarize(events) -> dict[str | None, GroupStats]:
    """Per-job-group counters over an event stream."""
    groups: dict[str | None, GroupStats] = {}
    stage_group: dict[int, str | None] = {}
    scan_accs: set[int] = set()

    def grp(key):
        return groups.setdefault(key, GroupStats())

    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            grp((e.get("Properties") or {}).get(GROUP_PROP)).jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            stage_group[sid] = (e.get("Properties") or {}).get(GROUP_PROP)
        elif kind == "SparkListenerStageCompleted":
            grp(stage_group.get(e["Stage Info"]["Stage ID"])).stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            g = grp(stage_group.get(sid))
            m = e.get("Task Metrics") or {}
            run_ms = int(m.get("Executor Run Time", 0))
            g.tasks += 1
            g.run_ms += run_ms
            g.cpu_ns += int(m.get("Executor CPU Time", 0))
            g.gc_ms += int(m.get("JVM GC Time", 0))
            g.shuffle_write_bytes += int(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            )
            g.peak_exec_mem_bytes = max(
                g.peak_exec_mem_bytes, int(m.get("Peak Execution Memory", 0))
            )
            st = g.stage_stats.setdefault(sid, StageStats())
            st.task_run_ms.append(run_ms)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if upd is None:
                    continue
                if name in SQL_METRICS:
                    g.sql[name] = g.sql.get(name, 0) + int(upd)
                    if "Python" in name:
                        st.python = True
                elif acc.get("ID") in scan_accs:
                    g.scan_rows += int(upd)
        elif kind.endswith(("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate")):
            _scan_row_accumulators(e.get("sparkPlanInfo") or {}, scan_accs)
    return groups
