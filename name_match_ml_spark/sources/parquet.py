"""Parquet corpus loader for the driver's synthetic tables (TESTDATA.md).

Thin wrapper so every query takes ``(spark, sf_dir)`` and reads
``{sf_dir}/{table}.parquet`` — predicate pushdown, column pruning and
partition sizing are Catalyst/DataSource-v2 built-ins as long as we stay
declarative from the scan on.  The driver corpus ships each table as ONE
single-row-group parquet file — an unsplittable scan partition — so the
expression-heavy tables go through the plan-time parallelism floor
(``plans/probe.parallelism_floor``); on a real cluster the scan is
already split and the floor is a no-op.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.probe import parallelism_floor

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Tables whose queries do expression-heavy per-row work (similarity
# scoring, shingling, JSON extraction, vector math) before the first
# shuffle — for those, map-side parallelism pays for one extra small
# exchange.  lineitem/orders are deliberately excluded: their queries are
# aggregation/join-shaped, where Catalyst's map-side partial aggregation
# collapses rows BEFORE any exchange, and a pre-shuffle would defeat it
# (measured: repartitioning lineitem made TPC-H-Q1-shape 1.5× slower).
# region/nation/supplier broadcast; fanning 5 rows over 32 tasks only adds
# scheduling overhead.
_EXPRESSION_HEAVY_TABLES = frozenset(
    {"customer", "part", "events", "documents", "embeddings"}
)

__all__ = ["TABLES", "table", "read_events_parquet", "register_views"]


def read_events_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of an events parquet whose ``ts`` has shipped as either
    timestamp[us] or INT64 TIMESTAMP(NANOS).  Spark's reader rejects the
    latter at schema inference (``PARQUET_TYPE_ILLEGAL``); only then is
    ``spark.sql.legacy.parquet.nanosAsLong`` set, for the session, and ts
    read as long nanos.  A timestamp[us] corpus leaves the conf as it was."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PARQUET_TYPE_ILLEGAL":
            raise
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown corpus table {name!r}; expected one of {TABLES}")
    if name == "events":
        # branch on the landed ts dtype so both events encodings load
        df = read_events_parquet(spark, f"{sf_dir}/events.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # nanos as long; rebuild with exact integer division (micros) —
            # double division would lose precision on 1e18-scale nanos.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            # normalize to TIMESTAMP_LTZ (session tz is pinned UTC) so
            # window/watermark semantics match the long-nanos path.
            df = df.withColumn("ts", F.to_timestamp("ts"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name in _EXPRESSION_HEAVY_TABLES:
        df = parallelism_floor(df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view for ``spark.sql`` use."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
