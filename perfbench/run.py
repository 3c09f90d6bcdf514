#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload ts_ingest_scan --seed 1 \\
        --seconds 20 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The line
before it is the run record (machine, versions, load, samples, and
every failed operation).  Spans, the run record and the Spark event
log summary are kept under ``.perfbench_out/``; the engine's state
lives under ``.perfbench_run/`` and is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.time()  # process start, before the heavy imports

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("ts_ingest_scan", "kv_upsert_llm_search")
MAX_CORES = 4
#: Reference jobs run before timing starts, and after every iteration.
#: The first one after an iteration ran up to 1.7x slower than the next
#: ones (it inherits the iteration's garbage and cold caches), so it
#: primes and is not timed.
REF_WARMUP = 3
REF_PER_ITERATION = 6


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(run_dir: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside the run
    directory; turn the event log on for a traced run only."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = None
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # spark-submit first runs a short launcher JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = \
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Dderby.system.home={tmp}",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    import shlex
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def end_to_end(rec, setup_s: float) -> dict:
    """Set-up time, and the median over iterations of each role's
    latency over the reference job's (see ``perfbench/reference.py``)."""
    def over_ref(role):
        v = rec.over_ref[role]
        return statistics.median(v) if v else None
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "batch_p50_over_ref": {"value": over_ref("batch"), "unit": "ratio"},
        "query_p50_over_ref": {"value": over_ref("query"), "unit": "ratio"},
    }


def raw_latencies(rec) -> dict:
    """The traced run's latencies in ms: the roles from its bare
    iterations, and the reference job."""
    from perfbench.workloads import composite

    bare = rec.by_mode["bare"]
    out = {"bench.reference_job.p50_ms": composite(rec.samples["ref"])}
    for role in ("batch", "query"):
        out[f"bench.{role}_p50_ms"] = composite(bare.get(role, []))
    return {k: (v or 0.0) * 1e3 for k, v in out.items()}


def overhead(rec) -> float:
    """Geometric mean over the batch and query roles of instrumented /
    bare latency; the traced run alternates the two kinds of
    iteration."""
    from perfbench.workloads import composite

    ratios = []
    for role in ("batch", "query"):
        t = composite(rec.by_mode["traced"].get(role, []))
        b = composite(rec.by_mode["bare"].get(role, []))
        if t and b:
            ratios.append(t / b)
    return math.exp(sum(map(math.log, ratios)) / len(ratios)) if ratios else 0.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM pyspark started, and wait for it:
    the JVM exits when its standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import rados_timestore_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import layers, reference, runrecord
    from perfbench.trace import Tracer, read_event_log, wrap_hadoop_fs
    from perfbench.workloads import WORKLOADS, Recorder, composite

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(ROOT, ".perfbench_run", tag)
    out_dir = os.path.join(ROOT, ".perfbench_out", tag)
    os.makedirs(out_dir)
    prepare_env(run_dir, bool(args.trace))
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    record = runrecord.start(args, cores, ROOT)

    from rados_timestore_spark import get_spark
    from rados_timestore_spark.fsutil import HadoopFS
    from rados_timestore_spark.mutable import MutableKV

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      master=f"local[{cores}]", shuffle_partitions=cores)
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    runrecord.add_versions(record, spark)

    tracer = Tracer(spark.sparkContext if args.trace else None)
    tracer.active = False
    undo = []
    if args.trace:
        undo.append(wrap_hadoop_fs(HadoopFS, tracer))
        orig_merge = MutableKV.merge_into

        def merge_into(self, updates, merge, *a, **kw):
            with tracer.span("mutable.merge_into", batch_id=kw.get("batch_id")):
                return orig_merge(self, updates, merge, *a, **kw)
        MutableKV.merge_into = merge_into
        undo.append(lambda: setattr(MutableKV, "merge_into", orig_merge))

    rec = Recorder(tracer)
    ref_path = os.path.join(run_dir, "reference")

    def reference_op(timed=True):
        rec.op("ref" if timed else None, "bench.reference_job",
               lambda: reference.run(spark, cores, ref_path), reference.check)
    wl = WORKLOADS[args.workload](spark, os.path.join(run_dir, "state"),
                                  args.seed, rec)
    extra: dict = {}
    iterations = 0
    try:
        t1 = time.perf_counter()
        wl.setup()
        t2 = time.perf_counter()
        wl.warmup()
        for _ in range(REF_WARMUP):
            reference_op()
        rec.reset_samples()
        setup_s = time.time() - T_START
        record["setup_phases_s"] = {
            "before_session": setup_s - (time.perf_counter() - t0),
            "get_spark": get_spark_s,
            "state": t2 - t1,
            "warmup": time.perf_counter() - t2,
        }
        begin = time.perf_counter()
        deadline = begin + args.seconds
        while True:
            if args.trace:
                # an iteration runs every op kind once, so alternating
                # iterations see each kind in both modes
                tracer.active = iterations % 2 == 0
                rec.mode = "traced" if tracer.active else "bare"
            mark = rec.mark()
            wl.iteration(iterations)
            reference_op(timed=False)
            for _ in range(REF_PER_ITERATION):
                reference_op()
            rec.close_iteration(mark)
            iterations += 1
            now = time.perf_counter()
            # stop when the next iteration would mostly run past the
            # deadline, so runs measure --seconds on average
            if deadline - now < 0.5 * (now - begin) / iterations:
                break
        tracer.active = bool(args.trace)  # the traced run's full scans
        extra = wl.finish(bool(args.trace))
        tracer.active = False
    finally:
        getattr(wl, "stop", lambda: None)()
        stop_spark(spark)
        for u in undo:
            u()

    extra["session.get_spark_s"] = get_spark_s
    if args.trace:
        extra.update(raw_latencies(rec))
        logs = os.listdir(os.path.join(run_dir, "eventlog"))
        log = read_event_log(os.path.join(run_dir, "eventlog", logs[0]))
        metrics = layers.layer_metrics(tracer, log, extra,
                                       getattr(wl, "progress", []),
                                       overhead(rec))
        tracer.write(os.path.join(out_dir, "spans.jsonl"))
    else:
        metrics = end_to_end(rec, setup_s)
    record["role_p50_ms"] = {
        role: (composite(samples) or 0.0) * 1e3
        for role, samples in rec.samples.items()}

    runrecord.finish(record, rec, iterations, setup_s)
    with open(os.path.join(out_dir, "run_record.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    missing = [k for k, v in metrics.items() if v["value"] is None]
    print(json.dumps({"run_record": record}))
    print(json.dumps({
        "correct": rec.failed == 0 and not missing,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
