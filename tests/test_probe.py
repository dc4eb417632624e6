"""Plan-time size decisions (plans/probe.py): the parallelism floor and
the bounded row count."""

from __future__ import annotations

from pyspark.sql import functions as F

from name_match_ml_spark.plans.probe import (
    bounded_rows,
    estimated_rows,
    parallelism_floor,
)


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


def test_bounded_rows_exact_to_cap_then_inf(spark):
    """Exact at and below the cap, +inf one row above it, and a fixed
    job count per call whatever the cap: one job on a one-partition
    frame (under AQE a multi-partition frame adds the LIMIT exchange's
    map stage as a second job).  ``estimated_rows`` on a
    ``createDataFrame`` frame (unknown stats) reads the same count."""
    sc = spark.sparkContext
    df = spark.createDataFrame([(i,) for i in range(10)], "id long")
    group = "bounded-rows-test"
    try:
        for frame in (df.coalesce(1), df):
            sc.setLocalProperty("spark.jobGroup.id", group)
            per_call = []
            for cap, want in [(10, 10.0), (12, 10.0), (9, float("inf"))]:
                before = len(sc.statusTracker().getJobIdsForGroup(group))
                assert bounded_rows(frame, cap) == want, cap
                per_call.append(len(sc.statusTracker().getJobIdsForGroup(group)) - before)
            sc.setLocalProperty("spark.jobGroup.id", None)
            assert len(set(per_call)) == 1 and per_call[0] <= 2, per_call
            if frame.rdd.getNumPartitions() == 1:
                assert per_call[0] == 1, per_call
            assert estimated_rows(frame) == 10.0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
