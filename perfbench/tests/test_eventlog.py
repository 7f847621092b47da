"""The event-log reader on a small recorded log: a two-partition range
written through a shuffle (job group op-1), then a filtered read of the
written parquet (job group op-2)."""

import os

from perfbench import eventlog
from perfbench.tracing import Tracer

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def test_jobs_map_to_groups_and_executions():
    log = eventlog.parse(LOG)
    assert sorted(j.job_id for j in log.jobs_in("op-1")) == [0, 1]
    assert sorted(j.job_id for j in log.jobs_in("op-2")) == [2, 3]
    assert log.jobs[1].stages == [1, 2]
    assert log.jobs[3].exec_id == 1
    assert all(j.end_ms is not None and j.end_ms >= j.submit_ms for j in log.jobs.values())


def test_task_metrics():
    log = eventlog.parse(LOG)
    write = log.tasks_of(log.jobs_in("op-1"))
    read = log.tasks_of(log.jobs_in("op-2"))
    assert len(write) == 3 and len(read) == 3
    assert sum(t.shuffle_write_b for t in write) == 4607 + 4665
    assert sum(t.shuffle_read_b for t in write) == 4607 + 4665
    assert sum(t.output_b for t in write) == 5471
    assert sum(t.input_records for t in read) == 1000
    assert sum(t.gc_ms for t in log.tasks) == 10 + 10 + 37 + 0 + 13 + 13
    assert sum(t.spill_b for t in log.tasks) == 0


def test_sql_metrics():
    log = eventlog.parse(LOG)
    # the read lists the three k= partitions; the write made three files
    assert log.sql_metric(log.jobs_in("op-2"), "number of files read") == 3
    assert log.sql_metric(log.jobs_in("op-1"), "number of written files") == 3
    assert log.sql_metric(log.jobs_in("op-1"), "number of files read") == 0


def test_busy_ms_merges_overlapping_tasks():
    T = eventlog.Task
    mk = lambda a, b: T(0, a, b, 0, 0, 0, 0, 0, 0, 0, 0)  # noqa: E731
    tasks = [mk(0, 10), mk(5, 20), mk(30, 40), mk(35, 38)]
    assert eventlog.busy_ms(tasks, 0, 100) == 30
    assert eventlog.busy_ms(tasks, 8, 32) == 14
    assert eventlog.busy_ms([], 0, 100) == 0


def test_self_time_subtracts_children():
    tr = Tracer()
    tr.spans = [
        {"id": 0, "name": "a", "start": 0.0, "end": 10.0, "parent": None, "op": "x"},
        {"id": 1, "name": "b", "start": 1.0, "end": 4.0, "parent": 0, "op": "x"},
        {"id": 2, "name": "c", "start": 3.0, "end": 6.0, "parent": 0, "op": "x"},
        {"id": 3, "name": "d", "start": 2.0, "end": 3.0, "parent": 1, "op": "x"},
    ]
    assert tr.self_time(tr.spans[0]) == 5.0
    assert tr.self_time(tr.spans[1]) == 2.0
    assert tr.self_time(tr.spans[3]) == 1.0


def test_wrap_records_nested_spans_and_restores():
    import types

    mod = types.SimpleNamespace()
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2
    orig_inner, orig_outer = mod.inner, mod.outer
    tr = Tracer()
    tr.wrap(mod, "inner", "inner")
    tr.wrap(mod, "outer", "outer")
    tr.op_id = "op"
    assert mod.outer(1) == 4
    (o,), (i,) = tr.named("outer", "op"), tr.named("inner", "op")
    assert i["parent"] == o["id"] and o["parent"] is None
    assert o["ret"] == 4 and i["ret"] == 2
    tr.unwrap_all()
    assert mod.inner is orig_inner and mod.outer is orig_outer
