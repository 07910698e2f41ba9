"""cpu_spread gate semantics (r15): spread a below-cores input, leave an
at-or-above-cores input (or one whose partition count cannot be read)
untouched, and never change results."""

import pytest
from pyspark.sql import functions as F

from vers_spark.functions.spread import cpu_spread


@pytest.fixture(scope="module")
def spark():
    from vers_spark.session import get_spark

    return get_spark(app_name="test_spread", cpus="4")


def test_spreads_single_partition_input(spark):
    df = spark.range(100).coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    out = cpu_spread(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_leaves_wide_input_alone(spark):
    n = spark.sparkContext.defaultParallelism
    df = spark.range(100).repartition(n * 2)
    out = cpu_spread(df)
    # identity: no extra exchange inserted on an already-parallel input
    assert out is df


def test_unreadable_partition_count_is_identity(spark):
    class Unplannable:
        sparkSession = spark

        @property
        def rdd(self):
            raise RuntimeError("plan cannot be built")

        def repartition(self, n):
            raise AssertionError("a gate failure must not spread")

    df = Unplannable()
    assert cpu_spread(df) is df


def test_result_neutral(spark):
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).coalesce(1)
    plain = df.groupBy("k").agg(F.sum("id").alias("s")).orderBy("k").collect()
    spread = (
        cpu_spread(df).groupBy("k").agg(F.sum("id").alias("s")).orderBy("k").collect()
    )
    assert plain == spread
