"""Plan-time size decisions (plans/probe.py): the parallelism floor."""

from __future__ import annotations

from pyspark.sql import functions as F

from name_match_ml_spark.plans.probe import parallelism_floor


def test_floor_spreads_scans_and_leaves_exchanges_alone(spark, tmp_path):
    """A one-split scan is re-spread to ``defaultParallelism``; a plan with
    a shuffle, broadcast or round-robin exchange comes back unchanged, and
    deciding that starts no Spark job (counting partitions of such a plan
    would run its exchange stages at plan time)."""
    sc = spark.sparkContext
    n = sc.defaultParallelism
    path = str(tmp_path / "one_split.parquet")
    spark.range(200).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 1

    assert parallelism_floor(scan).rdd.getNumPartitions() == n

    small = spark.range(10).withColumnRenamed("id", "k")
    with_exchange = {
        "aggregate": scan.groupBy((F.col("id") % 3).alias("g")).count(),
        "broadcast join": scan.join(F.broadcast(small), scan.id == small.k),
        "repartition": scan.repartition(3),
    }
    group = "parallelism-floor-test"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        for name, df in with_exchange.items():
            assert parallelism_floor(df) is df, name
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        scan.count()  # control: the group does record a job
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
