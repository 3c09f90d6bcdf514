"""Per-layer metrics of a traced run.

Names follow ``<layer>.<span>.<counter>``; the layer is the engine
module the span calls into.  A span a workload never enters reports 0
for every counter: that layer did no work in that workload.
"""

from __future__ import annotations

import statistics

from perfbench.trace import counters, union_length

#: Spans that get the full counter set C.
C_SPANS = (
    "store.write_points", "store.read_simple", "store.maintain",
    "mutable.merge_into", "mutable.lookup",
    "queries_dedup.dedup_minhash_lsh", "vector_index.probe_pq",
    "hnsw.probe_df",
)

#: Counter set C: (name, unit, better).  Each is the median over the
#: span's calls of the per-call value.
C_COUNTERS = (
    ("p50_ms", "ms", "lower"),
    ("stages", "count", "lower"),
    ("tasks", "count", "lower"),
    ("task_run_s", "s", "lower"),
    ("task_cpu_s", "s", "lower"),
    ("task_wait_s", "s", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("input_bytes", "bytes", "lower"),
    ("output_files", "count", "lower"),
    ("driver_s", "s", "lower"),
    ("fs_calls", "count", "lower"),
    ("fs_s", "s", "lower"),
)

#: Spans that get only their median wall time.
P50_SPANS = (
    "store.write_encoded", "store.read_extended", "store.scan",
    "mutable.enumerate", "queries_text.text_stats",
    "queries_dedup.dedup_exact",
)

#: StreamingQueryProgress.durationMs keys, per micro-batch.
STREAMING = (
    ("streaming.trigger_ms", "triggerExecution"),
    ("streaming.add_batch_ms", "addBatch"),
    ("streaming.wal_commit_ms", "walCommit"),
    ("streaming.latest_offset_ms", "latestOffset"),
)

SETUP = ("session.get_spark_s", "store.prefill_s", "mutable.insert_bulk_s",
         "vector_index.build_s", "hnsw.build_s")

OTHER = (
    ("store.read_simple.rows_scanned_per_row", "ratio", "lower"),
    ("mutable.merge_into.rows_written_per_key", "ratio", "lower"),
    ("store.disk_bytes_per_point", "bytes", "lower"),
    ("mutable.disk_bytes_per_key", "bytes", "lower"),
    ("store.live_files", "count", "lower"),
    ("vector_index.recall_at_10", "ratio", "higher"),
    ("hnsw.recall_at_10", "ratio", "higher"),
    ("spark.failed_tasks", "count", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
    # the end-to-end roles before they are divided by the reference job
    ("bench.batch_p50_ms", "ms", "lower"),
    ("bench.query_p50_ms", "ms", "lower"),
    ("bench.reference_job.p50_ms", "ms", "lower"),
)


def catalog() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better)."""
    out = [(f"{s}.{c}", u, b) for s in C_SPANS for c, u, b in C_COUNTERS]
    out += [(f"{s}.p50_ms", "ms", "lower") for s in P50_SPANS]
    out += [(n, "ms", "lower") for n, _ in STREAMING]
    out += [(n, "s", "lower") for n in SETUP]
    out += list(OTHER)
    return out


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _instance(tracer, log, sp) -> dict:
    """Counter set C of one span call, its child spans included."""
    tree = [sp] + tracer.descendants(sp)
    groups = {str(s.id) for s in tree}
    batches = {str(s.attrs["batch_id"]) for s in tree
               if s.attrs.get("batch_id") is not None}
    c = counters(log, lambda p: p.get("spark.jobGroup.id") in groups
                 or p.get("streaming.sql.batchId") in batches)
    jobs = [(max(a, sp.start), min(b, sp.end)) for a, b in c["job_intervals"]]
    c["p50_ms"] = sp.wall_s * 1e3
    c["driver_s"] = sp.wall_s - union_length([j for j in jobs if j[1] > j[0]])
    c["fs_calls"] = sum(s.fs_calls for s in tree)
    c["fs_s"] = sum(s.fs_s for s in tree)
    return c


def layer_metrics(tracer, log, extra: dict, progress: list,
                  overhead_ratio: float) -> dict[str, float]:
    """Every metric of :func:`catalog`, from the spans, the parsed
    event log and the workload's own end-of-run figures."""
    m: dict[str, float] = {}
    for name in C_SPANS:
        calls = [_instance(tracer, log, sp) for sp in tracer.by_name(name)]
        for counter, _, _ in C_COUNTERS:
            m[f"{name}.{counter}"] = _median([c[counter] for c in calls])
        if name == "store.read_simple":
            m["store.read_simple.rows_scanned_per_row"] = _median([
                c["input_records"] / sp.attrs["rows"]
                for c, sp in zip(calls, tracer.by_name(name))
                if sp.attrs.get("rows")])
        if name == "mutable.merge_into":
            parents = {s.id: s for s in tracer.spans}
            m["mutable.merge_into.rows_written_per_key"] = _median([
                c["output_records"] / parents[sp.parent].attrs["keys"]
                for c, sp in zip(calls, tracer.by_name(name))
                if sp.parent in parents
                and parents[sp.parent].attrs.get("keys")])
    for name in P50_SPANS:
        m[f"{name}.p50_ms"] = _median(
            [sp.wall_s * 1e3 for sp in tracer.by_name(name)])
    for name, key in STREAMING:
        m[name] = _median([p["durationMs"].get(key, 0) for p in progress])
    m["spark.failed_tasks"] = log.failed_tasks()
    m["trace.overhead_ratio"] = overhead_ratio
    for name, value in extra.items():
        m[name] = value
    out = {}
    for name, unit, _ in catalog():
        out[name] = {"value": float(m.get(name, 0.0)), "unit": unit}
    return out
