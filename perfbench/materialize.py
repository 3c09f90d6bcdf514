"""Deliver a DataFrame's whole result, never a pruned ``count()``.

``df.count()`` lets Catalyst drop every column the count does not need
(UDF columns, aggregates feeding only projections), so it times less
work than a user receives.  The two helpers here evaluate every output
column of every row: one brings the result to the driver as Arrow, the
other writes it through Spark's ``noop`` sink (full evaluation, no
driver transfer) and returns the row count observed in the same pass.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def collect_arrow(df: DataFrame) -> pa.Table:
    """The full result on the driver, as one Arrow table."""
    return df.toArrow()


def drain_noop(df: DataFrame) -> int:
    """Evaluate every column of every row through the ``noop`` sink;
    return the number of rows written (observed in the same job)."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")) \
        .write.format("noop").mode("overwrite").save()
    return int(obs.get["rows"])
