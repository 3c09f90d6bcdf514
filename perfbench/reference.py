"""The reference job: a fixed, engine-independent Spark job timed in
the same run as the workload.

The host this benchmark runs on is shared, and its speed drifts: the
same code ran every op kind 1.6-2x slower in one half hour than in the
next, on one 4-core host.  Every op kind slowed by about the same
factor, and so did a Spark job that calls no engine code.  The
end-to-end latencies are therefore reported over the median of this
job's latency in the same run, which cancels the host's speed and
keeps the engine's.

The job touches what the engine's ops touch — code generation, task
scheduling, a parquet write through the commit protocol, a parquet
read, a shuffle and an Arrow collect — but no engine module and no
engine state.
"""

from __future__ import annotations

ROWS = 200_000
GROUPS = 97


def run(spark, cores: int, path: str):
    """Write ``ROWS`` rows as parquet under ``path``, read them back,
    count them per group and collect the counts as Arrow."""
    df = spark.range(0, ROWS, 1, cores).selectExpr(
        "id", f"id % {GROUPS} AS k", "cast(id AS string) AS s")
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).groupBy("k").count().toArrow()


def check(tab) -> str | None:
    counts = dict(zip(tab.column("k").to_pylist(),
                      tab.column("count").to_pylist()))
    want = {k: len(range(k, ROWS, GROUPS)) for k in range(GROUPS)}
    return None if counts == want else f"{len(counts)} groups, wrong counts"
