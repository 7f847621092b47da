"""Reader for Spark's JSON event log (uncompressed, non-rolling).

Keeps what the per-layer report needs: each job's group (the benchmark
sets one job group per op), each task's run time, GC, shuffle, spill,
input and output, and the SQL plan metrics (files read, scan rows) that
Spark posts as accumulator updates.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from .stats import covered

SQL_EXEC_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_ACCUM_UPDATES = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    gc_ms: int
    shuffle_write_b: int
    shuffle_read_b: int
    spill_b: int
    input_b: int
    input_records: int
    output_b: int


@dataclass
class Job:
    job_id: int
    group: str | None
    exec_id: int | None
    submit_ms: int
    end_ms: int | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    stage_job: dict[int, int] = field(default_factory=dict)
    # SQL plan metrics: accumulator id -> metric name, execution id -> ids
    metric_name: dict[int, str] = field(default_factory=dict)
    exec_metrics: dict[int, set] = field(default_factory=dict)
    accum_total: dict[int, int] = field(default_factory=dict)

    def jobs_in(self, group: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group]

    def tasks_of(self, jobs: list[Job]) -> list[Task]:
        ids = {j.job_id for j in jobs}
        return [t for t in self.tasks if self.stage_job.get(t.stage) in ids]

    def sql_metric(self, jobs: list[Job], name: str) -> int:
        """Sum of one SQL plan metric over the executions of ``jobs``."""
        execs = {j.exec_id for j in jobs if j.exec_id is not None}
        total = 0
        for e in execs:
            for acc in self.exec_metrics.get(e, ()):
                if self.metric_name.get(acc) == name:
                    total += self.accum_total.get(acc, 0)
        return total


def _plan_metrics(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[int(m["accumulatorId"])] = m["name"]
    for c in node.get("children", []):
        _plan_metrics(c, out)


def _num(x) -> int:
    try:
        return int(x)
    except (TypeError, ValueError):
        return 0


def parse(path: str) -> EventLog:
    log = EventLog()
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                job = Job(
                    job_id=e["Job ID"],
                    group=props.get("spark.jobGroup.id"),
                    exec_id=int(ex) if ex is not None else None,
                    submit_ms=e["Submission Time"],
                    stages=list(e.get("Stage IDs", [])),
                )
                log.jobs[job.job_id] = job
                for s in job.stages:
                    log.stage_job[s] = job.job_id
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in log.jobs:
                    log.jobs[e["Job ID"]].end_ms = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                log.tasks.append(
                    Task(
                        stage=e["Stage ID"],
                        launch_ms=info["Launch Time"],
                        finish_ms=info["Finish Time"],
                        run_ms=m.get("Executor Run Time", 0),
                        gc_ms=m.get("JVM GC Time", 0),
                        shuffle_write_b=(m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        shuffle_read_b=sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        spill_b=m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        input_b=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        input_records=(m.get("Input Metrics") or {}).get("Records Read", 0),
                        output_b=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    )
                )
                for a in info.get("Accumulables", []):
                    if a.get("Metadata") == "sql":
                        acc = int(a["ID"])
                        log.accum_total[acc] = log.accum_total.get(acc, 0) + _num(a.get("Update"))
            elif kind in (SQL_EXEC_START, SQL_ADAPTIVE):
                names: dict[int, str] = {}
                _plan_metrics(e["sparkPlanInfo"], names)
                log.metric_name.update(names)
                log.exec_metrics.setdefault(e["executionId"], set()).update(names)
            elif kind == SQL_ACCUM_UPDATES:
                for acc, val in e["accumUpdates"]:
                    log.accum_total[int(acc)] = log.accum_total.get(int(acc), 0) + _num(val)
                    log.exec_metrics.setdefault(e["executionId"], set()).add(int(acc))
    return log


def busy_ms(tasks: list[Task], t0_ms: float, t1_ms: float) -> float:
    """Milliseconds of [t0, t1] during which at least one task ran."""
    return covered(((t.launch_ms, t.finish_ms) for t in tasks), t0_ms, t1_ms)
