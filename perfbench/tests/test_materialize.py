"""The materialization helpers evaluate every output column, which
``count()`` does not: a UDF column that counts its calls into an
accumulator shows the difference."""

from __future__ import annotations

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from perfbench.materialize import collect_arrow, drain_noop  # noqa: E402

ROWS = 1000


@pytest.fixture(scope="module")
def spark():
    s = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    yield s
    s.stop()


def _counted(spark):
    acc = spark.sparkContext.accumulator(0)

    def touch(x):
        acc.add(1)
        return x * 2

    udf = F.udf(touch, "long")
    df = spark.range(ROWS).repartition(2).withColumn("twice", udf("id"))
    return df, acc


def test_count_prunes_the_udf_column(spark):
    df, acc = _counted(spark)
    assert df.count() == ROWS
    assert acc.value == 0


def test_collect_arrow_evaluates_every_column(spark):
    df, acc = _counted(spark)
    tab = collect_arrow(df)
    assert tab.num_rows == ROWS and acc.value == ROWS
    assert sorted(tab.column("twice").to_pylist()) == list(range(0, 2 * ROWS, 2))


def test_drain_noop_evaluates_every_column_and_counts_rows(spark):
    df, acc = _counted(spark)
    assert drain_noop(df) == ROWS
    assert acc.value == ROWS
