"""The record every run keeps: machine, load, steal, versions, seed."""

from __future__ import annotations

import os
import platform
import subprocess
import time


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _loadavg() -> str:
    with open("/proc/loadavg") as f:
        return f.read().strip()


def _git_commit(root: str) -> str:
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown (not a git checkout)"
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def start(args, cores: int, root: str) -> dict:
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "cores_available": len(os.sched_getaffinity(0)),
        "spark_master": f"local[{cores}]",
        "shuffle_partitions": cores,
        "loadavg_start": _loadavg(),
        "python": platform.python_version(),
        "git_commit": _git_commit(root),
        "_cpu0": _cpu_times(),
        "_t0": time.time(),
    }


def add_versions(record: dict, spark) -> None:
    record["spark"] = spark.version
    record["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    record["spark_master_used"] = spark.sparkContext.master


def finish(record: dict, rec, iterations: int, setup_s: float) -> None:
    cpu0, cpu1 = record.pop("_cpu0"), _cpu_times()
    delta = [b - a for a, b in zip(cpu0, cpu1)]
    # /proc/stat columns: user nice system idle iowait irq softirq steal
    record["cpu_steal_share"] = (delta[7] / sum(delta)) if sum(delta) else 0.0
    record["wall_s"] = time.time() - record.pop("_t0")
    record["loadavg_end"] = _loadavg()
    record["setup_s"] = setup_s
    record["iterations"] = iterations
    ms: dict[str, list] = {}
    for samples in rec.samples.values():
        for kind, dt in samples:
            ms.setdefault(kind, []).append(round(dt * 1e3, 1))
    record["samples"] = {kind: len(v) for kind, v in ms.items()}
    record["samples_ms"] = ms
    record["failures"] = rec.failures
