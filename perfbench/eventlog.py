"""Spark event-log parser for the traced benchmark run.

Reads a rolled (v2) event-log directory, ``eventlog_v2_<app>/events_<N>_<app>``,
part by part in order, and attributes every job to the query window that
contains its submission time.  Job groups are not used: micro-batch jobs of
a stream carry the stream's run id as their group.  For each window it sums
the executor task metrics and the SQL metrics of the stages of its jobs into
per-layer counters named after the repository's modules.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass

#: Clock slack between the harness (float seconds) and Spark (whole ms).
SLACK_S = 0.005

#: SQL metric name -> (layer counter, factor to seconds or bytes).
SQL_METRICS = {
    "scan time": ("sources.scan_s", 1e-3),
    "time in aggregation build": ("operators.agg_build_s", 1e-3),
    "time to build hash map": ("operators.join_build_s", 1e-3),
    "sort time": ("operators.sort_s", 1e-3),
    "time to run Python workers": ("functions.py_run_s", 1e-3),
    "time to start Python workers": ("functions.py_start_s", 1e-3),
    "time to initialize Python workers": ("functions.py_start_s", 1e-3),
    "data sent to Python workers": ("functions.py_sent_bytes", 1),
    "data returned from Python workers": ("functions.py_returned_bytes", 1),
}
#: SQL metrics measured on the driver (broadcast build), reported through
#: ``SparkListenerDriverAccumUpdates`` rather than stage accumulables.
DRIVER_SQL_METRICS = {"time to build": ("operators.join_build_s", 1e-3)}

#: Counters every window reports, in output order.
COUNTERS = (
    "driver.gap_s", "driver.jobs", "driver.stages", "driver.tasks",
    "operators.build_jobs",
    "sources.scan_s", "sources.input_bytes", "sources.input_rows",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.write_s",
    "shuffle.fetch_wait_s", "shuffle.skew",
    "operators.agg_build_s", "operators.join_build_s", "operators.sort_s",
    "functions.py_run_s", "functions.py_start_s",
    "functions.py_sent_bytes", "functions.py_returned_bytes",
    "executor.run_s", "executor.cpu_s", "executor.gc_s",
    "executor.spill_bytes", "executor.peak_mem_bytes",
)
#: Counters combined across queries by max instead of sum.
MAX_COUNTERS = {"shuffle.skew", "executor.peak_mem_bytes"}

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


@dataclass(frozen=True)
class Window:
    """One timed query execution: build from ``start`` to ``build_end``,
    then the sink until ``end`` (epoch seconds)."""

    key: str
    start: float
    build_end: float
    end: float

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def _part_index(path: str) -> int:
    return int(os.path.basename(path).split("_")[1])


def read_events(log_dir: str):
    """Yield the events of every v2 log under ``log_dir``, parts in order.

    A log still being written may end in a partial line; reading stops there.
    """
    apps = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*")))
    if not apps:
        raise FileNotFoundError(f"no eventlog_v2_* directory under {log_dir}")
    for app in apps:
        for part in sorted(glob.glob(os.path.join(app, "events_*")), key=_part_index):
            with open(part, encoding="utf-8") as f:
                for line in f:
                    try:
                        yield json.loads(line)
                    except json.JSONDecodeError:
                        break


def _plan_metrics(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", ()):
        _plan_metrics(child, out)


class EventLog:
    """Jobs, stages, tasks and driver-side SQL metrics of one event log."""

    def __init__(self, events) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_jobs: dict[int, int] = {}
        self.stages: dict[tuple[int, int], dict] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.sql_start: dict[int, float] = {}
        self.acc_names: dict[int, str] = {}
        self.driver_accums: list[tuple[int, int, float]] = []
        for ev in events:
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                self.jobs[jid] = {"submit": ev["Submission Time"] / 1e3, "end": None}
                for sid in ev["Stage IDs"]:
                    self.stage_jobs.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in self.jobs:
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                self.stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                    a["Name"]: a["Value"] for a in info.get("Accumulables", ())
                    if a.get("Metadata") == "sql"
                }
            elif kind == "SparkListenerTaskEnd":
                self.tasks[ev["Stage ID"]].append(ev.get("Task Metrics") or {})
            elif kind in (SQL_START, SQL_ADAPTIVE):
                if kind == SQL_START:
                    self.sql_start[ev["executionId"]] = ev["time"] / 1e3
                _plan_metrics(ev["sparkPlanInfo"], self.acc_names)
            elif kind == DRIVER_ACCUM:
                for acc_id, value in ev["accumUpdates"]:
                    self.driver_accums.append((ev["executionId"], acc_id, value))

    @classmethod
    def load(cls, log_dir: str) -> "EventLog":
        return cls(read_events(log_dir))

    def attribute(self, windows: list[Window]) -> dict[str, list[int]]:
        """Map each window key to the ids of the jobs submitted inside it."""
        out: dict[str, list[int]] = {w.key: [] for w in windows}
        for jid, job in sorted(self.jobs.items()):
            w = _containing(windows, job["submit"])
            if w is not None:
                out[w.key].append(jid)
        return out

    def window_metrics(self, w: Window, job_ids: list[int]) -> dict[str, float]:
        """Per-layer counters of one window, plus ``check.*`` values."""
        m = dict.fromkeys(COUNTERS, 0.0)
        spans = [(self.jobs[j]["submit"], self.jobs[j]["end"] or w.end) for j in job_ids]
        union = _union(spans)
        m["driver.jobs"] = len(job_ids)
        m["operators.build_jobs"] = sum(
            self.jobs[j]["submit"] <= w.build_end + SLACK_S for j in job_ids
        )
        m["driver.gap_s"] = w.wall_s - _union([(max(a, w.start), min(b, w.end)) for a, b in spans])
        inside = all(a >= w.start - SLACK_S and b <= w.end + SLACK_S for a, b in spans)
        m["check.job_spans_s"] = union
        m["check.gap_ok"] = float(inside and abs(m["driver.gap_s"] + union - w.wall_s) <= 2 * SLACK_S)
        jobs = set(job_ids)
        for (sid, _attempt), accums in self.stages.items():
            if self.stage_jobs.get(sid) not in jobs:
                continue
            m["driver.stages"] += 1
            for name, value in accums.items():
                if name in SQL_METRICS:
                    key, factor = SQL_METRICS[name]
                    m[key] += float(value) * factor
        for sid, tasks in self.tasks.items():
            if self.stage_jobs.get(sid) in jobs:
                _add_tasks(m, tasks)
        for exec_id, acc_id, value in self.driver_accums:
            name = self.acc_names.get(acc_id)
            start = self.sql_start.get(exec_id)
            if name in DRIVER_SQL_METRICS and start is not None and (
                w.start - SLACK_S <= start <= w.end + SLACK_S
            ):
                key, factor = DRIVER_SQL_METRICS[name]
                m[key] += float(value) * factor
        return m


def _add_tasks(m: dict[str, float], tasks: list[dict]) -> None:
    read = []
    for t in tasks:
        sr = t.get("Shuffle Read Metrics", {})
        sw = t.get("Shuffle Write Metrics", {})
        inp = t.get("Input Metrics", {})
        m["driver.tasks"] += 1
        m["sources.input_bytes"] += inp.get("Bytes Read", 0)
        m["sources.input_rows"] += inp.get("Records Read", 0)
        m["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        m["shuffle.write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
        m["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        r = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        m["shuffle.read_bytes"] += r
        read.append(r)
        m["executor.run_s"] += t.get("Executor Run Time", 0) / 1e3
        m["executor.cpu_s"] += t.get("Executor CPU Time", 0) / 1e9
        m["executor.gc_s"] += t.get("JVM GC Time", 0) / 1e3
        m["executor.spill_bytes"] += t.get("Memory Bytes Spilled", 0) + t.get("Disk Bytes Spilled", 0)
        m["executor.peak_mem_bytes"] = max(
            m["executor.peak_mem_bytes"], t.get("Peak Execution Memory", 0)
        )
    if any(read):
        m["shuffle.skew"] = max(m["shuffle.skew"], max(read) / max(statistics.median(read), 1))


def _containing(windows: list[Window], t: float) -> Window | None:
    for w in windows:
        if w.start - SLACK_S <= t <= w.end + SLACK_S:
            return w
    return None


def _union(spans: list[tuple[float, float]]) -> float:
    """Total length covered by the spans."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(s for s in spans if s[1] > s[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def combine(per_query: dict[str, dict[str, float]]) -> dict[str, float]:
    """Workload total: sum over queries, max for skew and peak memory."""
    out: dict[str, float] = {}
    for metrics in per_query.values():
        for k, v in metrics.items():
            if k in MAX_COUNTERS:
                out[k] = max(out.get(k, 0.0), v)
            else:
                out[k] = out.get(k, 0.0) + v
    return out
