"""Parser for Spark's JSON event log (one uncompressed, unrolled file).

The traced run enables the log through ``get_spark(extra_conf=...)`` and
reads it after the session stops. Everything here is bucketed into op
windows (epoch milliseconds, the clock the log uses): a job or SQL
execution belongs to the op during which it was submitted, a task to the
op during which it launched.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

from .trace import covered

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
OUTPUT_ROWS = "number of output rows"


@dataclass
class Task:
    stage: int
    launch: int
    finish: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    fetch_wait_ms: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    input_bytes: int
    output_bytes: int
    accums: dict[int, int]


@dataclass
class EventLog:
    jobs: dict[int, list] = field(default_factory=dict)  # id -> [submit, end]
    stages: list[tuple[int, int, int]] = field(default_factory=list)  # (id, submit, done)
    tasks: list[Task] = field(default_factory=list)
    #: accumulator id -> (node name, metric name, metric type), every plan version
    sql_metrics: dict[int, tuple[str, str, str]] = field(default_factory=dict)
    executions: dict[int, int] = field(default_factory=dict)  # execution id -> start
    driver_accums: list[tuple[int, int, int]] = field(default_factory=list)  # (exec, id, value)

    # -- bucketing -------------------------------------------------------------

    @staticmethod
    def _bucket(t: int, windows) -> int | None:
        for i, (a, b) in enumerate(windows):
            if a <= t <= b:
                return i
        return None

    def summary(self, windows: list[tuple[int, int]]) -> dict[str, float]:
        """Per-op means of job, stage, task and SQL metrics over ``windows``
        (one ``(start_ms, end_ms)`` per op), plus ``task_skew``: the median
        over ops of max/median task time in the op's heaviest stage."""
        n = len(windows)
        out = {k: 0.0 for k in (
            "jobs", "stages", "task_run_s", "task_cpu_s", "task_wait_s", "gc_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
            "input_bytes", "output_bytes", "python_run_s", "python_boot_s",
            "python_bytes_sent", "python_bytes_received", "outside_jobs_s",
            "task_skew",
        )}
        if n == 0:
            return out
        job_iv: list[list[tuple[int, int]]] = [[] for _ in windows]
        for submit, end in self.jobs.values():
            i = self._bucket(submit, windows)
            if i is not None:
                out["jobs"] += 1
                job_iv[i].append((submit, end if end is not None else windows[i][1]))
        for _, submit, _ in self.stages:
            if self._bucket(submit, windows) is not None:
                out["stages"] += 1
        stage_tasks: dict[tuple[int, int], list[Task]] = {}
        for t in self.tasks:
            i = self._bucket(t.launch, windows)
            if i is None:
                continue
            stage_tasks.setdefault((i, t.stage), []).append(t)
            out["task_run_s"] += t.run_ms / 1e3
            out["task_cpu_s"] += t.cpu_ns / 1e9
            out["task_wait_s"] += (t.finish - t.launch - t.run_ms + t.fetch_wait_ms) / 1e3
            out["gc_s"] += t.gc_ms / 1e3
            out["shuffle_write_bytes"] += t.shuffle_write
            out["shuffle_read_bytes"] += t.shuffle_read
            out["spill_bytes"] += t.spill
            out["input_bytes"] += t.input_bytes
            out["output_bytes"] += t.output_bytes
        py = self.metric_totals(windows, lambda node, name: name in (PY_RUN, PY_BOOT, PY_SENT, PY_RECEIVED))
        out["python_run_s"] = py.get(PY_RUN, 0) / 1e3
        out["python_boot_s"] = py.get(PY_BOOT, 0) / 1e3
        out["python_bytes_sent"] = py.get(PY_SENT, 0)
        out["python_bytes_received"] = py.get(PY_RECEIVED, 0)
        for (a, b), iv in zip(windows, job_iv):
            out["outside_jobs_s"] += ((b - a) - covered(iv, a, b)) / 1e3
        for k in out:
            out[k] /= n
        skews = []
        for i in range(n):
            heavy = max(
                (ts for (j, _), ts in stage_tasks.items() if j == i),
                key=lambda ts: sum(t.finish - t.launch for t in ts),
                default=None,
            )
            if heavy:
                d = [max(1, t.finish - t.launch) for t in heavy]
                skews.append(max(d) / statistics.median(d))
        out["task_skew"] = statistics.median(skews) if skews else 0.0
        return out

    def metric_totals(self, windows, select) -> dict[str, int]:
        """Sum of SQL metric updates (task-side and driver-side) whose
        ``select(node_name, metric_name)`` holds, keyed by metric name."""
        ids = {i: m for i, m in self.sql_metrics.items() if select(m[0], m[1])}
        out: dict[str, int] = {}
        for t in self.tasks:
            if self._bucket(t.launch, windows) is None:
                continue
            for aid, v in t.accums.items():
                if aid in ids:
                    out[ids[aid][1]] = out.get(ids[aid][1], 0) + v
        for ex, aid, v in self.driver_accums:
            if aid in ids and self._bucket(self.executions.get(ex, -1), windows) is not None:
                out[ids[aid][1]] = out.get(ids[aid][1], 0) + v
        return out

    def node_rows(self, windows, node_prefix: str) -> int:
        """Output rows of plan nodes whose name starts with ``node_prefix``."""
        return self.metric_totals(
            windows, lambda node, name: node.startswith(node_prefix) and name == OUTPUT_ROWS
        ).get(OUTPUT_ROWS, 0)


def _walk_plan(plan: dict, into: dict) -> None:
    for m in plan.get("metrics", []):
        into[int(m["accumulatorId"])] = (plan.get("nodeName", ""), m["name"], m["metricType"])
    for ch in plan.get("children", []):
        _walk_plan(ch, into)


def _num(v) -> int:
    return int(float(v))


def parse(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            log.jobs[e["Job ID"]] = [e["Submission Time"], None]
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in log.jobs:
                log.jobs[e["Job ID"]][1] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if "Submission Time" in si:
                log.stages.append((si["Stage ID"], si["Submission Time"], si.get("Completion Time", 0)))
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            accums = {}
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql" and "Update" in a:
                    accums[int(a["ID"])] = _num(a["Update"])
            log.tasks.append(Task(
                stage=e["Stage ID"],
                launch=info["Launch Time"],
                finish=info["Finish Time"],
                run_ms=m.get("Executor Run Time", 0),
                cpu_ns=m.get("Executor CPU Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                fetch_wait_ms=sr.get("Fetch Wait Time", 0),
                shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                shuffle_write=m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                input_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
                output_bytes=m.get("Output Metrics", {}).get("Bytes Written", 0),
                accums=accums,
            ))
        elif kind == SQL_START:
            log.executions[e["executionId"]] = e["time"]
            _walk_plan(e["sparkPlanInfo"], log.sql_metrics)
        elif kind == SQL_AQE_UPDATE:
            _walk_plan(e["sparkPlanInfo"], log.sql_metrics)
        elif kind == SQL_DRIVER_ACCUM:
            for aid, v in e["accumUpdates"]:
                log.driver_accums.append((e["executionId"], int(aid), _num(v)))
    return log


def load(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)
