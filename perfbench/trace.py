"""Tracing from outside the engine: spans, HadoopFS counters and the
Spark event log.

* :class:`Tracer` records spans (name, start, end, parent id) in memory
  around the benchmark's calls into each layer's public functions.  On
  the client thread it tags every Spark job a span launches with the
  span's id as the job group, so the event log can attribute jobs to
  spans.
* :func:`wrap_hadoop_fs` wraps the public ``HadoopFS`` methods and
  charges each outermost call (count and wall time) to the innermost
  open span.
* :func:`parse_event_log` reads an uncompressed Spark event log into
  jobs, stages and tasks; :func:`counters` folds the jobs of one span into
  the per-span counter set.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Public HadoopFS methods whose calls are counted.
FS_METHODS = (
    "exists", "is_dir", "list_dirs", "dir_has_partition_data", "dir_size",
    "mkdirs", "read_text", "write_text_atomic", "exists_or_recover",
    "rename", "create_exclusive", "delete", "promote_dir_tree",
    "clone_dir_tree", "sweep_files",
)

WRITTEN_FILES_METRIC = "number of written files"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float | None = None
    thread: str = ""
    fs_calls: int = 0
    fs_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return (self.end or self.start) - self.start

    def to_json(self) -> dict:
        return {"id": self.id, "parent": self.parent, "name": self.name,
                "start": self.start, "end": self.end, "thread": self.thread,
                "fs_calls": self.fs_calls, "fs_s": self.fs_s,
                "attrs": self.attrs}


class Tracer:
    """In-memory spans.  One client drives the engine at a time, so the
    open spans form one stack even when a span opens on another thread
    (a streaming micro-batch runs while the client waits on it)."""

    def __init__(self, sc=None):
        self.sc = sc  # SparkContext whose job group tags client spans
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.lock = threading.Lock()
        self.client = threading.get_ident()
        self.active = sc is not None

    def current(self) -> Span | None:
        return self.stack[-1] if self.stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        with self.lock:
            parent = self.current()
            sp = Span(len(self.spans) + 1, parent.id if parent else None,
                      name, time.time(), thread=threading.current_thread().name,
                      attrs=dict(attrs))
            self.spans.append(sp)
            self.stack.append(sp)
        on_client = threading.get_ident() == self.client
        if on_client:
            self.sc.setJobGroup(str(sp.id), name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            with self.lock:
                self.stack.remove(sp)
                outer = self.current()
            if on_client:
                if outer is not None:
                    self.sc.setJobGroup(str(outer.id), outer.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        """One JSON line per span, with its self time."""
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({**sp.to_json(),
                                    "self_s": self.self_time(sp)}) + "\n")

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def descendants(self, sp: Span) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out, todo = [], [sp.id]
        while todo:
            for k in kids.get(todo.pop(), []):
                out.append(k)
                todo.append(k.id)
        return out

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it that direct child spans cover."""
        kids = sorted((s.start, s.end) for s in self.spans
                      if s.parent == sp.id and s.end is not None)
        return sp.wall_s - union_length(kids)


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def wrap_hadoop_fs(hadoop_fs_cls, tracer: Tracer):
    """Count the outermost call of every public ``HadoopFS`` method
    against the innermost open span.  Returns an undo function."""
    depth = [0]
    guard = threading.Lock()
    originals = {}

    def make(name, orig):
        def wrapped(self, *a, **kw):
            sp = tracer.current() if tracer.active else None
            with guard:
                outer = depth[0] == 0
                depth[0] += 1
            t0 = time.perf_counter()
            try:
                return orig(self, *a, **kw)
            finally:
                dt = time.perf_counter() - t0
                with guard:
                    depth[0] -= 1
                    if outer and sp is not None:
                        sp.fs_calls += 1
                        sp.fs_s += dt
        wrapped.__name__ = name
        wrapped.__doc__ = orig.__doc__
        return wrapped

    for name in FS_METHODS:
        orig = hadoop_fs_cls.__dict__.get(name)
        if orig is None:
            continue
        originals[name] = orig
        setattr(hadoop_fs_cls, name, make(name, orig))

    def undo():
        for name, orig in originals.items():
            setattr(hadoop_fs_cls, name, orig)
    return undo


# -------------------------------------------------------- event log


@dataclass
class Stage:
    id: int
    submit_ms: int | None = None
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    wait_ms: int = 0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_records: int = 0
    launches: list = field(default_factory=list)
    props: dict = field(default_factory=dict)


@dataclass
class Job:
    id: int
    submit_ms: int
    complete_ms: int | None
    stage_ids: list
    props: dict

    @property
    def execution_id(self) -> str | None:
        return self.props.get("spark.sql.execution.id")


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)
    stages: dict = field(default_factory=dict)
    written_files: dict = field(default_factory=dict)  # execution id -> n

    def failed_tasks(self) -> int:
        return sum(s.failed_tasks for s in self.stages.values())


def _metric_ids(plan: dict, name: str, out: set) -> None:
    for m in plan.get("metrics", ()):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in plan.get("children", ()):
        _metric_ids(child, name, out)


def parse_event_log(lines) -> EventLog:
    """Jobs (with their local properties), per-stage task counters and
    files written per SQL execution, from event-log JSON lines."""
    log = EventLog()
    file_ids: set = set()
    file_updates: list = []

    def stage(sid: int) -> Stage:
        return log.stages.setdefault(sid, Stage(sid))

    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            log.jobs[e["Job ID"]] = Job(
                e["Job ID"], e["Submission Time"], None,
                list(e.get("Stage IDs", ())), e.get("Properties") or {})
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(e["Job ID"])
            if job is not None:
                job.complete_ms = e["Completion Time"]
        elif kind in ("SparkListenerStageSubmitted",
                      "SparkListenerStageCompleted"):
            info = e["Stage Info"]
            st = stage(info["Stage ID"])
            if kind == "SparkListenerStageSubmitted":
                st.props = e.get("Properties") or {}
            if info.get("Submission Time") is not None:
                st.submit_ms = info["Submission Time"]
        elif kind == "SparkListenerTaskEnd":
            st = stage(e["Stage ID"])
            info = e.get("Task Info", {})
            st.tasks += 1
            if info.get("Failed") or e.get("Task End Reason", {}).get(
                    "Reason", "Success") != "Success":
                st.failed_tasks += 1
            st.launches.append(info.get("Launch Time"))
            m = e.get("Task Metrics") or {}
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}
                                       ).get("Shuffle Bytes Written", 0)
            inp = m.get("Input Metrics") or {}
            st.input_bytes += inp.get("Bytes Read", 0)
            st.input_records += inp.get("Records Read", 0)
            st.output_records += (m.get("Output Metrics") or {}
                                  ).get("Records Written", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart") or \
                kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _metric_ids(e.get("sparkPlanInfo") or {}, WRITTEN_FILES_METRIC,
                        file_ids)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            file_updates.append((str(e["executionId"]), e["accumUpdates"]))
    for st in log.stages.values():
        if st.submit_ms is not None:
            st.wait_ms = sum(max(0, t - st.submit_ms)
                             for t in st.launches if t is not None)
    for exec_id, updates in file_updates:
        n = sum(int(v) for acc, v in updates if acc in file_ids)
        if n:
            log.written_files[exec_id] = log.written_files.get(exec_id, 0) + n
    return log


def read_event_log(path: str) -> EventLog:
    with open(path) as f:
        return parse_event_log(f)


def counters(log: EventLog, match) -> dict:
    """Counter set of the jobs and stages whose local properties
    satisfy ``match`` (one span's).  A stage counts once, under the job
    that ran it; ``job_intervals`` are (submit, complete) in seconds,
    for the span's driver time."""
    jobs = [j for j in log.jobs.values() if match(j.props)]
    stages = [s for s in log.stages.values() if s.tasks and match(s.props)]
    execs = {j.execution_id for j in jobs if j.execution_id is not None}
    return {
        "stages": len(stages),
        "tasks": sum(s.tasks for s in stages),
        "task_run_s": sum(s.run_ms for s in stages) / 1e3,
        "task_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "task_wait_s": sum(s.wait_ms for s in stages) / 1e3,
        "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
        "input_bytes": sum(s.input_bytes for s in stages),
        "input_records": sum(s.input_records for s in stages),
        "output_records": sum(s.output_records for s in stages),
        "output_files": sum(log.written_files.get(x, 0) for x in execs),
        "failed_tasks": sum(s.failed_tasks for s in stages),
        "job_intervals": [(j.submit_ms / 1e3, (j.complete_ms or j.submit_ms)
                           / 1e3) for j in jobs],
    }
