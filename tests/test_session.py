"""The session contract: batch shuffles fan out to the AQE initial
partition count, streams size their state stores to the cores."""

import re

from pyspark.sql import functions as F

from firewatch_spark.session import get_spark


def test_batch_fan_out_and_state_partitions_come_from_different_keys(
    spark, monkeypatch
):
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    before = spark.conf.getAll
    try:
        s = get_spark()
        assert s is spark
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            spark.sparkContext.defaultParallelism
        )
        assert (
            spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
            == "32"
        )
        df = spark.range(100).withColumn("k", F.col("id") % 7).groupBy("k").count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"hashpartitioning\(k#\d+L?, 32\)", plan), plan
    finally:
        after = spark.conf.getAll
        for k in after.keys() - before.keys():
            spark.conf.unset(k)
        for k, v in before.items():
            if after.get(k) != v:
                spark.conf.set(k, v)
