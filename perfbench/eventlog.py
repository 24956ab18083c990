"""Fold a Spark event log (uncompressed, non-rolling JSON lines) into the
benchmark's ``exec.*`` metrics.

Jobs are attributed by their job group ``<workload>.<i>.<phase>``: the
prefix ``<workload>.<i>`` names the job-run, the last part the phase or key.
Task metrics come from ``SparkListenerTaskEnd``; per-operator SQL metrics
(join output rows, Python worker time) come from the accumulator ids that
``SQLExecutionStart`` and AQE plan updates declare, summed over task and
driver accumulator updates.
"""

from __future__ import annotations

import json
from collections import Counter, defaultdict

JOIN_NODES = ("Join", "CartesianProduct")
OUTPUT_ROWS = "number of output rows"
PYTHON_RUN = "time to run Python workers"
PYTHON_BOOT = ("time to start Python workers", "time to initialize Python workers")

# counters summed per job group; times in seconds, sizes in bytes
COUNTERS = (
    "jobs",
    "tasks",
    "failed_tasks",
    "stage_retries",
    "run_s",
    "cpu_s",
    "gc_s",
    "python_s",
    "python_boot_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
    "output_rows",
    "input_bytes",
    "input_rows",
)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


class EventLog:
    """Accumulated state of one event log."""

    def __init__(self) -> None:
        self.groups: dict[str, Counter] = defaultdict(Counter)
        self.job_group: dict[int, str] = {}
        self.job_span: dict[int, list[float]] = {}
        self.stage_group: dict[int, str] = {}
        self.exec_group: dict[int, str] = {}
        self.acc_kind: dict[int, tuple[str, int]] = {}  # id -> (role, execution)
        self.acc_sum: Counter = Counter()

    @classmethod
    def read(cls, path: str) -> "EventLog":
        log = cls()
        with open(path) as fh:
            for line in fh:
                log.feed(json.loads(line))
        return log

    def _plan(self, execution: int, node: dict) -> None:
        name = node.get("nodeName", "")
        for m in node.get("metrics", []):
            role = None
            if m["name"] == OUTPUT_ROWS and any(j in name for j in JOIN_NODES):
                role = "join_rows"
            elif m["name"] == PYTHON_RUN:
                role = "python_s"
            elif m["name"] in PYTHON_BOOT:
                role = "python_boot_s"
            if role:
                self.acc_kind[m["accumulatorId"]] = (role, execution)
        for child in node.get("children", []):
            self._plan(execution, child)

    def feed(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            job = e["Job ID"]
            self.job_group[job] = group
            self.job_span[job] = [e["Submission Time"] / 1000.0, None]
            for s in e["Stage IDs"]:
                self.stage_group[s] = group
            self.groups[group]["jobs"] += 1
            sql_id = props.get("spark.sql.execution.id")
            if sql_id is not None:
                self.exec_group.setdefault(int(sql_id), group)
        elif kind == "SparkListenerJobEnd":
            self.job_span[e["Job ID"]][1] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            if info["Stage Attempt ID"] > 0:
                group = self.stage_group.get(info["Stage ID"], "")
                self.groups[group]["stage_retries"] += 1
        elif kind == "SparkListenerTaskEnd":
            self._task_end(e)
        elif kind.endswith("SQLExecutionStart"):
            execution = e["executionId"]
            if e.get("jobGroupId"):
                self.exec_group.setdefault(execution, e["jobGroupId"])
            self._plan(execution, e["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif kind.endswith("DriverAccumUpdates"):
            for acc, value in e["accumUpdates"]:
                if acc in self.acc_kind:
                    self.acc_sum[acc] += int(value)

    def _task_end(self, e: dict) -> None:
        g = self.groups[self.stage_group.get(e["Stage ID"], "")]
        g["tasks"] += 1
        if e["Task End Reason"]["Reason"] != "Success":
            g["failed_tasks"] += 1
        m = e.get("Task Metrics") or {}
        if m:
            g["run_s"] += m["Executor Run Time"] / 1e3
            g["cpu_s"] += m["Executor CPU Time"] / 1e9
            g["gc_s"] += m["JVM GC Time"] / 1e3
            g["spill_bytes"] += m["Disk Bytes Spilled"]
            rd = m["Shuffle Read Metrics"]
            g["shuffle_read_bytes"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
            g["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            g["input_bytes"] += m["Input Metrics"]["Bytes Read"]
            g["input_rows"] += m["Input Metrics"]["Records Read"]
            g["output_bytes"] += m["Output Metrics"]["Bytes Written"]
            g["output_rows"] += m["Output Metrics"]["Records Written"]
        for a in e["Task Info"].get("Accumulables", []):
            if a["ID"] in self.acc_kind:  # SQL metric updates are logged as text
                self.acc_sum[a["ID"]] += int(a["Update"])

    def _sql_metrics(self) -> dict[str, Counter]:
        """Per job group: Python worker seconds and the largest join's rows."""
        out: dict[str, Counter] = defaultdict(Counter)
        for acc, (role, execution) in self.acc_kind.items():
            group = self.exec_group.get(execution)
            if group is None or acc not in self.acc_sum:
                continue
            value = self.acc_sum[acc]
            if role == "join_rows":
                out[group]["max_join_rows"] = max(out[group]["max_join_rows"], value)
            else:
                out[group][role] += value / 1e3  # "timing" metrics are in ms
        return out

    def fold(self, windows: dict[str, list[tuple[float, float]]]) -> dict[str, dict]:
        """Metrics per job-run.

        ``windows`` maps a job-run (``<workload>.<i>``) to the wall-clock
        segments it ran. ``job_span_s`` is the union of its jobs' lifetimes;
        ``driver_gap_s`` is the part of its window in which no job at all ran,
        so the two add up to the window's length when every job that ran
        inside it is attributed to it."""
        sql = self._sql_metrics()
        all_jobs = [tuple(s) for s in self.job_span.values() if s[1] is not None]
        out = {}
        for run, segments in windows.items():
            prefix = run + "."
            groups = [g for g in self.groups if g.startswith(prefix)]
            m = {c: 0.0 for c in COUNTERS}
            for g in groups:
                for c in COUNTERS:
                    m[c] += self.groups[g][c] + sql[g][c]
            own = [
                tuple(self.job_span[j])
                for j, g in self.job_group.items()
                if g.startswith(prefix) and self.job_span[j][1] is not None
            ]
            wall = sum(b - a for a, b in segments)
            busy = sum(_union_length(_clip(all_jobs, a, b)) for a, b in segments)
            m["job_span_s"] = _union_length(own)
            m["driver_gap_s"] = wall - busy
            m["wall_s"] = wall
            m["busy_cores"] = m["run_s"] / m["job_span_s"] if m["job_span_s"] else 0.0
            m["max_join_rows"] = {
                g[len(prefix):]: sql[g]["max_join_rows"] for g in groups if sql[g]["max_join_rows"]
            }
            out[run] = m
        return out
