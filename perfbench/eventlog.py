"""Reader for Spark's uncompressed JSON event log, and the per-layer sums
the benchmark reports from it.

Spark 4 writes one application's log as a directory
``eventlog_v2_<app>/events_<N>_<app>`` (N = 1, 2, ... when the log rolls);
a non-rolling log is the single file ``<app>``.  ``EventLog.load`` reads
either shape.

Attribution: the benchmark tags its calls with ``setJobDescription``; every
job, stage and SQL execution carries that description, so a layer's work is
the work whose description matches.  Write jobs are attributed by the output
path of their ``InsertIntoHadoopFsRelationCommand``.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field
from typing import Callable

SQL = "org.apache.spark.sql.execution.ui."
_OUT_PATH = re.compile(
    r"\) Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?Arguments: ([^,\s]+),"
)
# the first frame of an execution's call site names the action that ran it
_KINDS = [
    ("DataFrameWriter.parquet", "write"),
    ("DataFrameWriter.save", "save"),
    ("Dataset.count", "count"),
    ("collectToPython", "collect"),
]


@dataclass
class Execution:
    id: int
    description: str
    kind: str
    path: str | None
    start_ms: int
    end_ms: int | None = None

    @property
    def seconds(self) -> float:
        return ((self.end_ms or self.start_ms) - self.start_ms) / 1000.0


@dataclass
class Stage:
    id: int
    description: str
    submit_ms: int | None = None
    complete_ms: int | None = None


@dataclass
class Task:
    stage: int
    run_ms: int
    failed: bool
    m: dict[str, int]
    accums: dict[int, int] = field(default_factory=dict)


def log_files(path: str) -> list[str]:
    """Event files of the single application logged under ``path`` (a
    log dir holding one application, an ``eventlog_v2_*`` dir, or a file)."""
    if os.path.isfile(path):
        return [path]
    base = os.path.basename(os.path.normpath(path))
    if base.startswith("eventlog_v2_"):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        parts.sort(key=lambda f: int(f.split("_")[1]))
        return [os.path.join(path, f) for f in parts]
    apps = [f for f in os.listdir(path) if not f.startswith(".")]
    if len(apps) != 1:
        raise ValueError(f"expected one application log in {path}, found {apps}")
    return log_files(os.path.join(path, apps[0]))


def _task_metrics(tm: dict) -> dict[str, int]:
    sr, sw = tm.get("Shuffle Read Metrics", {}), tm.get("Shuffle Write Metrics", {})
    out = tm.get("Output Metrics", {})
    return {
        "cpu_ns": tm.get("Executor CPU Time", 0),
        "gc_ms": tm.get("JVM GC Time", 0),
        "peak_mem": tm.get("Peak Execution Memory", 0),
        "spill_mem": tm.get("Memory Bytes Spilled", 0),
        "spill_disk": tm.get("Disk Bytes Spilled", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "output_bytes": out.get("Bytes Written", 0),
        "output_rows": out.get("Records Written", 0),
    }


class EventLog:
    def __init__(self, events: list[dict]):
        self.executions: dict[int, Execution] = {}
        self.jobs: dict[int, str] = {}  # job id -> description
        self.job_exec: dict[int, int | None] = {}  # job id -> SQL execution id
        self.stages: dict[int, Stage] = {}
        self.tasks: list[Task] = []
        # SQL metric accumulator id -> (execution id, plan node name, metric name)
        self.accum: dict[int, tuple[int, str, str]] = {}
        self.driver_accums: dict[int, int] = {}
        for e in events:
            self._add(e)

    @classmethod
    def load(cls, path: str) -> "EventLog":
        events = []
        for f in log_files(path):
            with open(f) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
        return cls(events)

    def _plan(self, exec_id: int, node: dict) -> None:
        name = node.get("nodeName", "")
        for m in node.get("metrics", []):
            self.accum[m["accumulatorId"]] = (exec_id, name, m["name"])
        for child in node.get("children", []):
            self._plan(exec_id, child)

    def _add(self, e: dict) -> None:
        ev = e["Event"]
        if ev == SQL + "SparkListenerSQLExecutionStart":
            first = e.get("details", "").split("\n", 1)[0]
            kind = next((k for pat, k in _KINDS if pat in first), "other")
            m = _OUT_PATH.search(e.get("physicalPlanDescription", ""))
            self.executions[e["executionId"]] = Execution(
                e["executionId"], e.get("description") or "", kind,
                m.group(1) if m else None, e["time"],
            )
            self._plan(e["executionId"], e.get("sparkPlanInfo", {}))
        elif ev == SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            self._plan(e["executionId"], e.get("sparkPlanInfo", {}))
        elif ev == SQL + "SparkListenerSQLExecutionEnd":
            if e["executionId"] in self.executions:
                self.executions[e["executionId"]].end_ms = e["time"]
        elif ev == SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e.get("accumUpdates", []):
                self.driver_accums[acc_id] = self.driver_accums.get(acc_id, 0) + value
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = props.get("spark.job.description", "")
            exec_id = props.get("spark.sql.execution.id")
            self.job_exec[e["Job ID"]] = int(exec_id) if exec_id else None
        elif ev == "SparkListenerStageSubmitted":
            info, props = e["Stage Info"], e.get("Properties") or {}
            self.stages[info["Stage ID"]] = Stage(
                info["Stage ID"], props.get("spark.job.description", ""),
                info.get("Submission Time"),
            )
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"], ""))
            st.submit_ms = st.submit_ms or info.get("Submission Time")
            st.complete_ms = info.get("Completion Time")
        elif ev == "SparkListenerTaskEnd":
            info = e["Task Info"]
            tm = e.get("Task Metrics") or {}
            accums = {
                a["ID"]: int(a["Update"])
                for a in info.get("Accumulables", [])
                if a["ID"] in self.accum and str(a.get("Update", "")).lstrip("-").isdigit()
            }
            self.tasks.append(Task(
                e["Stage ID"], tm.get("Executor Run Time", 0),
                info.get("Failed", False) or e["Task End Reason"].get("Reason") != "Success",
                _task_metrics(tm), accums,
            ))

    def sql_metric(self, executions: set[int], node: str, name: str) -> int:
        """Sum of one SQL metric over the named plan nodes of ``executions``
        (task updates plus driver-side updates)."""
        ids = {
            i for i, (x, n, mn) in self.accum.items()
            if x in executions and n.startswith(node) and mn == name
        }
        total = sum(v for t in self.tasks for i, v in t.accums.items() if i in ids)
        return total + sum(v for i, v in self.driver_accums.items() if i in ids)

    def summary(self, select: Callable[[str], bool]) -> dict[str, float]:
        """Spark-execution, shuffle, source and Arrow-boundary sums over the
        work whose job description satisfies ``select``."""
        stages = {s.id for s in self.stages.values() if select(s.description)}
        tasks = [t for t in self.tasks if t.stage in stages]
        execs = {x.id for x in self.executions.values() if select(x.description)}

        def tot(key: str) -> int:
            return sum(t.m[key] for t in tasks)

        by_stage: dict[int, list[int]] = {}
        for t in tasks:
            by_stage.setdefault(t.stage, []).append(t.run_ms)
        skew = 0.0
        if by_stage:
            heavy = max(by_stage.values(), key=sum)
            med = statistics.median(heavy)
            skew = max(heavy) / med if med > 0 else 1.0
        scan_bytes = self.sql_metric(execs, "Scan", "size of files read")
        write_bytes = tot("output_bytes")
        return {
            "spark.jobs": sum(1 for d in self.jobs.values() if select(d)),
            "spark.stages": len(stages),
            "spark.tasks": len(tasks),
            "spark.tasks_failed": sum(t.failed for t in tasks),
            "spark.executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
            "spark.executor_cpu_s": tot("cpu_ns") / 1e9,
            "spark.gc_s": tot("gc_ms") / 1e3,
            "spark.task_skew": skew,
            "functions.python_run_s": self.sql_metric(execs, "ArrowEvalPython", "time to run Python workers") / 1e3,
            "functions.python_start_s": self.sql_metric(execs, "ArrowEvalPython", "time to start Python workers") / 1e3,
            "functions.arrow_sent_bytes": self.sql_metric(execs, "ArrowEvalPython", "data sent to Python workers"),
            "functions.arrow_returned_bytes": self.sql_metric(execs, "ArrowEvalPython", "data returned from Python workers"),
            "functions.udf_rows": self.sql_metric(execs, "ArrowEvalPython", "number of output rows"),
            "sources.scan_rows": self.sql_metric(execs, "Scan", "number of output rows"),
            "sources.scan_bytes": scan_bytes,
            "sources.write_rows": tot("output_rows"),
            "sources.write_bytes": write_bytes,
            "sources.write_files": self.sql_metric(execs, "Execute InsertIntoHadoopFsRelationCommand", "number of written files"),
            "sources.write_amp": write_bytes / scan_bytes if scan_bytes else 0.0,
            "shuffle.write_bytes": tot("shuffle_write"),
            "shuffle.read_bytes": tot("shuffle_read"),
            "shuffle.fetch_wait_s": tot("fetch_wait_ms") / 1e3,
            "shuffle.spill_disk_bytes": tot("spill_disk"),
            "shuffle.spill_memory_bytes": tot("spill_mem"),
            "shuffle.peak_exec_memory_bytes": max((t.m["peak_mem"] for t in tasks), default=0),
        }

    def stage_busy_s(self, select: Callable[[str], bool]) -> float:
        """Length of the union of the selected stages' run intervals."""
        spans = sorted(
            (s.submit_ms, s.complete_ms) for s in self.stages.values()
            if select(s.description) and s.submit_ms and s.complete_ms
        )
        busy, cur_start, cur_end = 0, None, None
        for a, b in spans:
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    busy += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            busy += cur_end - cur_start
        return busy / 1e3

    def executions_where(self, select: Callable[[str], bool]) -> list[Execution]:
        return sorted(
            (x for x in self.executions.values() if select(x.description)),
            key=lambda x: x.id,
        )
