"""``cache.spread_small_input``: the skip for shuffled plans reads the
analyzed plan's node classes, so column names never decide it."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ballet_spark.cache import spread_small_input


@pytest.fixture(scope="module")
def one_file(spark, tmp_path_factory):
    """A single-file, single-partition parquet input."""
    path = str(tmp_path_factory.mktemp("spread") / "t")
    spark.range(64).selectExpr(
        "id", "id % 5 AS k", "CAST(id AS STRING) AS v"
    ).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    return df


@pytest.mark.parametrize("name", ["JoinKey", "WindowStart", "Sort key", "text"])
def test_spread_fires_whatever_the_column_name(spark, one_file, name):
    df = one_file.withColumnRenamed("v", name).filter(F.col("id") > 3)
    out = spread_small_input(df)
    assert out is not df
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


SHUFFLED = {
    "aggregate": lambda d: d.groupBy("k").count(),
    "join": lambda d: d.join(d.select("id"), "id"),
    "window": lambda d: d.withColumn(
        "r", F.row_number().over(Window.partitionBy("k").orderBy("id"))
    ),
    "distinct": lambda d: d.distinct(),
    "sql_distinct": lambda d: d.sparkSession.sql(
        "SELECT DISTINCT k FROM {d}", d=d
    ),
    "global_sort": lambda d: d.orderBy("id"),
    "local_sort": lambda d: d.sortWithinPartitions("id"),
    "repartition": lambda d: d.repartition(2, "k"),
    "except": lambda d: d.exceptAll(d.limit(1)),
}


@pytest.mark.parametrize("shape", sorted(SHUFFLED))
def test_spread_skips_shuffled_plans(one_file, shape):
    """Even narrowed back to one partition, a plan holding a shuffle
    node is left alone: the skip comes from the node check, before the
    partition-count probe (which would spread it)."""
    df = SHUFFLED[shape](one_file).coalesce(1)
    assert spread_small_input(df) is df
