"""Per-layer metrics of a traced run, from spans and Spark's event log.

Every traced run reports every metric in ``PER_LAYER``; a layer the
workload does not exercise reports 0. Times are medians over the traced
ops unless the name says otherwise.
"""

from __future__ import annotations

import glob
import os

from . import eventlog, stats
from .workloads import CORPUS_QUERIES

MB = 2**20

PER_LAYER: list[tuple[str, str, str]] = [
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("session.warmup_ops", "count", "lower"),
    ("synth.gen_s", "s", "lower"),
    ("job.self_s", "s", "lower"),
    ("job.spark_jobs", "count", "lower"),
    ("job.no_task_s", "s", "lower"),
    ("parse.busy_s", "s", "lower"),
    ("parse.quarantine_ratio", "ratio", "lower"),
    ("enrich_route.busy_s", "s", "lower"),
    ("sinks.write_fanout_s", "s", "lower"),
    ("sinks.reconcile_s", "s", "lower"),
    ("sinks.reconcile_removed_rows", "count", "lower"),
    ("sinks.shuffle_write_mb", "MB", "lower"),
    ("sinks.spill_mb", "MB", "lower"),
    ("sinks.task_skew", "ratio", "lower"),
    ("sinks.files_written", "count", "lower"),
    ("checkpoint.append_metrics_s", "s", "lower"),
    ("checkpoint.ledger_s", "s", "lower"),
    ("query.search_s_p50", "s", "lower"),
    ("query.point_lookup_s_p50", "s", "lower"),
    ("query.files_scanned", "count", "lower"),
    ("query.rows_scanned_per_result", "ratio", "lower"),
    ("aggregate.sink_aggregates_s_p50", "s", "lower"),
    *[(f"corpus.{q}_s", "s", "lower") for q in CORPUS_QUERIES],
    *[(f"corpus.{q}.shuffle_mb", "MB", "lower") for q in CORPUS_QUERIES],
    ("spark.gc_s", "s", "lower"),
    ("spark.task_busy_share", "ratio", "higher"),
    ("spark.tasks", "count", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("host.ref_s", "s", "lower"),
]


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _med(xs) -> float:
    return stats.median(list(xs))


def _jobs_within(jobs, spans) -> list:
    return [
        j for j in jobs
        if any(s["start"] * 1000 - 1 <= j.submit_ms <= s["end"] * 1000 + 1 for s in spans)
    ]


def _skew(tasks) -> float:
    """max / median task run time of the stage that wrote the most bytes."""
    by_stage: dict[int, list] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t)
    if not by_stage:
        return 0.0
    stage = max(by_stage.values(), key=lambda ts: sum(t.output_b for t in ts))
    runs = [t.run_ms for t in stage]
    m = stats.median(runs)
    return max(runs) / m if m else 0.0


def _pipeline(m: dict, log, tracer, ops: list[dict]) -> None:
    rows = []
    for o in ops:
        op = o["op"]
        rp = tracer.named("job.run_pipeline", op)[0]
        jobs = log.jobs_in(op)
        wf = tracer.named("sinks.write_fanout", op)
        rc = tracer.named("sinks.reconcile", op)
        wjobs = _jobs_within(jobs, wf)
        wtasks = log.tasks_of(wjobs)
        # the write stage: jobs of write_fanout outside reconcile
        rjobs = _jobs_within(jobs, rc)
        write_only = [j for j in wjobs if j not in rjobs]
        rows.append({
            "job.self_s": tracer.self_time(rp),
            "job.spark_jobs": len(jobs),
            "job.no_task_s": _dur(rp)
            - eventlog.busy_ms(log.tasks, rp["start"] * 1000, rp["end"] * 1000) / 1000,
            "sinks.write_fanout_s": sum(tracer.self_time(s) for s in wf),
            "sinks.reconcile_s": sum(_dur(s) for s in rc),
            "sinks.reconcile_removed_rows": sum(s.get("ret") or 0 for s in rc),
            "sinks.shuffle_write_mb": sum(t.shuffle_write_b for t in wtasks) / MB,
            "sinks.spill_mb": sum(t.spill_b for t in wtasks) / MB,
            "sinks.task_skew": _skew(log.tasks_of(write_only)),
            "sinks.files_written": o["stats"]["files_written"],
            "checkpoint.append_metrics_s": sum(
                _dur(s) for s in tracer.named("checkpoint.append_metrics", op)
            ),
            "checkpoint.ledger_s": sum(_dur(s) for s in tracer.named("checkpoint.ledger", op)),
            "parse.quarantine_ratio": o["stats"]["quarantined"] / max(1, o["items"]),
        })
    for k in rows[0] if rows else ():
        m[k] = _med(r[k] for r in rows)


def _reads(m: dict, log, tracer, ops: list[dict]) -> None:
    by = lambda k: [o for o in ops if o["kind"] == k]  # noqa: E731
    m["query.search_s_p50"] = _med(o["wall_s"] for o in by("search"))
    m["query.point_lookup_s_p50"] = _med(o["wall_s"] for o in by("lookup"))
    m["aggregate.sink_aggregates_s_p50"] = _med(o["wall_s"] for o in by("aggregates"))
    q = by("search") + by("lookup")
    m["query.files_scanned"] = _med(
        log.sql_metric(log.jobs_in(o["op"]), "number of files read") for o in q
    )
    scanned = sum(t.input_records for o in q for t in log.tasks_of(log.jobs_in(o["op"])))
    m["query.rows_scanned_per_result"] = scanned / max(1, sum(o["stats"]["rows"] for o in q))


def _corpus(m: dict, log, tracer, ops: list[dict]) -> None:
    for q in CORPUS_QUERIES:
        qo = [o for o in ops if o["kind"] == q]
        m[f"corpus.{q}_s"] = _med(o["wall_s"] for o in qo)
        m[f"corpus.{q}.shuffle_mb"] = _med(
            sum(t.shuffle_write_b for t in log.tasks_of(log.jobs_in(o["op"]))) / MB
            for o in qo
        )


_BY_WORKLOAD = {
    "backfill": _pipeline,
    "daily": _pipeline,
    "sink_reads": _reads,
    "corpus_ops": _corpus,
}


def per_layer(
    workload: str,
    work: str,
    tracer,
    ops: list[dict],
    extra: dict,
    session_start_s: float,
    warmup_s: float,
    warmup_ops: int,
    nproc: int,
) -> dict[str, tuple[float, str]]:
    (path,) = glob.glob(os.path.join(work, "eventlog", "*"))
    log = eventlog.parse(path)
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    m["session.start_s"] = session_start_s
    m["session.warmup_s"] = warmup_s
    m["session.warmup_ops"] = warmup_ops
    m["synth.gen_s"] = _med(_dur(s) for s in tracer.named("synth.gen"))

    traced = [o for o in ops if o.get("traced")]
    plain = [o for o in ops if not o.get("traced")]
    _BY_WORKLOAD[workload](m, log, tracer, traced)
    # the companion workload's ops, all traced
    for name, comp_ops in extra.items():
        if name in _BY_WORKLOAD:
            _BY_WORKLOAD[name](m, log, tracer, comp_ops)
    if "ladder" in extra:
        lad = extra["ladder"]
        m["parse.busy_s"] = lad["parse"] - lad["scan"]
        m["enrich_route.busy_s"] = lad["enrich_route"] - lad["parse"]

    jobs = [j for o in traced for j in log.jobs_in(o["op"])]
    tasks = log.tasks_of(jobs)
    wall = sum(o["wall_s"] for o in traced)
    m["spark.gc_s"] = sum(t.gc_ms for t in tasks) / 1000 / max(1, len(traced))
    m["spark.task_busy_share"] = sum(t.run_ms for t in tasks) / 1000 / (wall * nproc) if wall else 0.0
    m["spark.tasks"] = len(tasks) / max(1, len(traced))
    if traced and plain:
        m["trace.overhead_s"] = _med(o["norm_s"] for o in traced) - _med(
            o["norm_s"] for o in plain
        )
    m["host.ref_s"] = _med(o["ref_s"] for o in ops)
    units = {name: unit for name, unit, _ in PER_LAYER}
    return {k: (float(v), units[k]) for k, v in m.items()}
