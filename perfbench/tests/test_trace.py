"""The event-log parser on a small captured log, and the span and
HadoopFS bookkeeping."""

from __future__ import annotations

import os
import threading

from perfbench.trace import (Tracer, counters, read_event_log,
                             union_length, wrap_hadoop_fs)

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")

# The fixture was captured from a local[2] session that ran, in order:
# job group "7": a partitioned parquet write of 4 rows (4 files);
# job group "8": a read + groupBy collected as Arrow;
# one foreachBatch micro-batch (batch 0) appending the same 4 rows.


def _group(g):
    return lambda p: p.get("spark.jobGroup.id") == g


def test_jobs_keep_their_local_properties():
    log = read_event_log(LOG)
    groups = [j.props.get("spark.jobGroup.id") for j in log.jobs.values()]
    assert groups.count("7") == 2 and groups.count("8") == 3
    batch = [j for j in log.jobs.values() if j.props.get(
        "streaming.sql.batchId") == "0"]
    assert len(batch) == 1


def test_counters_of_a_write_span():
    c = counters(read_event_log(LOG), _group("7"))
    assert c["stages"] == 2 and c["tasks"] == 4
    assert c["output_records"] == 4 and c["output_files"] == 4
    assert c["shuffle_write_bytes"] > 0 and c["input_bytes"] == 0
    assert 0 < c["task_cpu_s"] <= c["task_run_s"]
    assert c["task_wait_s"] >= 0 and c["failed_tasks"] == 0
    assert len(c["job_intervals"]) == 2
    assert all(a <= b for a, b in c["job_intervals"])


def test_counters_of_a_read_span_and_a_stream_batch():
    log = read_event_log(LOG)
    r = counters(log, _group("8"))
    assert r["input_records"] == 4 and r["output_files"] == 0
    assert r["stages"] == 3
    b = counters(log, lambda p: p.get("streaming.sql.batchId") == "0")
    assert b["input_records"] == 4 and b["output_records"] == 4
    assert b["output_files"] == 2
    assert log.failed_tasks() == 0


def test_a_stage_counts_once_under_the_job_that_ran_it():
    log = read_event_log(LOG)
    total = sum(s.tasks for s in log.stages.values())
    parts = [counters(log, _group(g))["tasks"] for g in ("7", "8")]
    parts.append(counters(log, lambda p: "spark.jobGroup.id" not in p
                          or p["spark.jobGroup.id"] not in ("7", "8"))
                 ["tasks"])
    assert sum(parts) == total


def test_union_length():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


class _FakeSC:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, gid, desc):
        self.groups.append(gid)

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.groups.append(value)


def test_spans_nest_and_self_time_excludes_children():
    sc = _FakeSC()
    t = Tracer(sc)
    with t.span("op") as op:
        with t.span("inner") as inner:
            pass
    assert inner.parent == op.id and op.parent is None
    assert sc.groups == [str(op.id), str(inner.id), str(op.id), None]
    assert t.self_time(op) == op.wall_s - inner.wall_s
    assert [s.id for s in t.descendants(op)] == [inner.id]


def test_a_span_on_another_thread_nests_under_the_open_client_span():
    sc = _FakeSC()
    t = Tracer(sc)
    box = []

    def batch():
        with t.span("batch", batch_id=3) as sp:
            box.append(sp)
    with t.span("op") as op:
        th = threading.Thread(target=batch)
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    assert box[0].parent == op.id and box[0].attrs == {"batch_id": 3}
    assert sc.groups == [str(op.id), None]  # no job group off the client


def test_inactive_tracer_records_nothing():
    t = Tracer(None)
    with t.span("x") as sp:
        assert sp is None
    assert t.spans == []


class _FS:
    def exists(self, p):
        return True

    def promote_dir_tree(self, a, b):
        return self.exists(a) and self.exists(b)


def test_hadoop_fs_wrapper_counts_outermost_calls_only():
    t = Tracer(_FakeSC())
    undo = wrap_hadoop_fs(_FS, t)
    try:
        fs = _FS()
        with t.span("op") as op:
            fs.exists("a")
            fs.promote_dir_tree("a", "b")
        fs.exists("outside any span")
        assert op.fs_calls == 2 and op.fs_s > 0
    finally:
        undo()
    assert _FS.exists.__qualname__ == "_FS.exists"
