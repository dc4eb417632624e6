"""Structured Streaming operators over the ``events`` stream [EXT]
(SURVEY.md §2.9 — the reference has no streaming; semantics follow Spark's
documented model, and every windowed aggregation here has a batch twin in
``suite.py`` checked against a DuckDB oracle).

Design: the same *unbounded* logical plan works in batch and streaming —
each builder takes whatever ``events`` DataFrame it is given (static or
``readStream``), so tests can assert stream ≡ batch on identical input.

Scale notes: watermarks bound state (late data beyond the watermark is
dropped, so state per window/session is finite); stateful operators shuffle
once by their grouping key; ``dropDuplicatesWithinWatermark`` keeps only
the id→latest-ts map within the watermark horizon instead of an unbounded
seen-set.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ..sources.parquet import read_events_parquet

__all__ = [
    "EVENTS_SCHEMA",
    "stream_events",
    "tumbling_counts",
    "sliding_counts",
    "session_aggregate",
    "click_error_interval_join",
    "error_click_left_join",
    "dedup_within_watermark",
    "running_user_totals",
]

def _events_schema(ts_field) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_field),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


# Raw parquet schema when ts lands as INT64 TIMESTAMP(NANOS) (read as long
# via nanosAsLong); corpora with plain timestamp[us] use the NTZ variant.
EVENTS_SCHEMA = _events_schema(LongType())
EVENTS_SCHEMA_NTZ = _events_schema(TimestampNTZType())


def stream_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over a directory of events parquet files.

    New files appearing under ``events_dir`` become micro-batches — the
    standard landing-zone ingestion pattern.  The events corpus has shipped
    with ``ts`` as either INT64 TIMESTAMP(NANOS) or timestamp[us]; a one-off
    batch footer peek (plan-build time, not per-row) picks the matching
    stream schema, and the ts normalization mirrors ``sources/parquet.py``."""
    landed = dict(read_events_parquet(spark, events_dir).dtypes).get("ts")
    if landed == "bigint":
        raw = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)
        # exact integer division: double division loses precision at 1e18
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    raw = spark.readStream.schema(EVENTS_SCHEMA_NTZ).parquet(events_dir)
    # session tz is pinned UTC, so NTZ → LTZ is a no-op rebase; keeps the
    # watermark/window column type identical to the long-nanos path.
    return raw.withColumn("ts", F.to_timestamp("ts"))


def tumbling_counts(
    events: DataFrame, *, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling-window count/sum per event type with a watermark bounding
    window state (late rows beyond it are dropped)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    *,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding-window variant: each event lands in window/slide windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window, slide).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def session_aggregate(
    events: DataFrame, *, gap: str = "5 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Gap-based session windows per user — Spark merges overlapping
    [ts, ts+gap) intervals; a session closes (and emits, in append mode)
    once the watermark passes its end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window(F.col("ts"), gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            F.unix_timestamp(F.col("w.end")).alias("session_end"),
            "cnt",
            "sum_value",
        )
    )


def click_error_interval_join(
    clicks: DataFrame,
    errors: DataFrame,
    *,
    horizon: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join: each error pairs with the same
    user's clicks in the preceding ``horizon`` (the
    what-did-they-click-before-it-broke query).

    Both sides carry a watermark and the join condition bounds event
    time in BOTH directions — that pair of constraints is what lets
    Spark expire buffered rows (a click older than
    ``watermark + horizon`` can never match a future error, so its
    state is dropped).  An unbounded condition would buffer both
    streams forever.  Works identically on static inputs (the batch
    twin ``suite.py::q_range_join`` family / test's batch run)."""
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    e = errors.withWatermark("ts", watermark).select(
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
        F.col("event_id").alias("error_id"),
    )
    return c.join(
        e,
        (F.col("c_user") == F.col("e_user"))
        & (F.col("c_ts") <= F.col("e_ts"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr(f"INTERVAL {horizon}")),
    ).select(
        F.col("c_user").alias("user_id"),
        "error_id",
        "click_id",
        F.unix_timestamp("e_ts").alias("error_ts_s"),
        F.unix_timestamp("c_ts").alias("click_ts_s"),
    )


def error_click_left_join(
    errors: DataFrame,
    clicks: DataFrame,
    *,
    horizon: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every error pairs with
    the same user's clicks in the preceding ``horizon``; errors with NO
    qualifying click emit one NULL-click row — but only once the
    watermark passes the error's join window, because until then a
    matching click could still arrive.  That is the semantics
    difference from :func:`click_error_interval_join`: the NULL result
    is a statement about the FUTURE, so it is watermark-gated, and the
    trailing ``watermark + horizon`` of the stream never emits its
    unmatched errors (state that cannot be proven final).  The batch
    twin (``suite.q_stream_left_join``) emits them all — tests pin that
    the streamed rows are exactly the batch rows minus that provably
    unfinalizable tail."""
    e = errors.withWatermark("ts", watermark).select(
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
        F.col("event_id").alias("error_id"),
    )
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    return e.join(
        c,
        (F.col("e_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("e_ts"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr(f"INTERVAL {horizon}")),
        "leftOuter",
    ).select(
        F.col("e_user").alias("user_id"),
        "error_id",
        "click_id",
        F.unix_timestamp("e_ts").alias("error_ts_s"),
        F.unix_timestamp("c_ts").alias("click_ts_s"),
    )


def dedup_within_watermark(
    events: DataFrame, *, watermark: str = "30 minutes"
) -> DataFrame:
    """Stateful exactly-once dedup on event_id bounded by the watermark:
    duplicate deliveries within the horizon are dropped while state stays
    finite (vs an unbounded ``dropDuplicates`` seen-set)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


_TOTALS_STATE = StructType(
    [StructField("cnt", LongType()), StructField("total", DoubleType())]
)
_TOTALS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("cnt", LongType()),
        StructField("total", DoubleType()),
    ]
)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count and value total across micro-batches — the
    arbitrary-state template the built-in windows can't express."""

    def update(
        key: tuple, batches: Iterator[pd.DataFrame], state
    ) -> Iterator[pd.DataFrame]:
        cnt, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
        state.update((cnt, round(total, 6)))
        yield pd.DataFrame({"user_id": [key[0]], "cnt": [cnt], "total": [round(total, 6)]})

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_TOTALS_OUT,
            stateStructType=_TOTALS_STATE,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def enrich_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join + segment rollup: each micro-batch
    of events joins the STATIC customer dimension (no watermark needed —
    static sides are re-read per batch, and a broadcast keeps the join
    map-side) and rolls up per market segment.

    The stream-static join is the dimensional-enrichment workhorse:
    unlike the stream-stream interval join there is no state to expire,
    because only the stream side grows.  Batch twin:
    ``suite.py::q_enrich_events`` (stream ≡ batch pinned in
    tests/test_streaming.py)."""
    joined = events.join(F.broadcast(dim), events.user_id == dim.c_custkey)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        F.approx_count_distinct("user_id").alias("n_users_approx"),
    )


class _RunningTotalsProcessor(StatefulProcessor):
    """transformWithStateInPandas processor: per-user running count and
    value total in a ValueState — the arbitrary-state shape, on the
    modern API (vs :func:`running_user_totals`'s
    ``applyInPandasWithState``).  The new API brings composable typed
    state (value/list/map), timers, and state TTL/eviction — on 100 TB
    event streams the TTL is what bounds state for keys that go quiet.
    """

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("totals", "cnt LONG, total DOUBLE")

    def handleInputRows(self, key, rows, timerValues):
        existing = self._state.get()
        cnt, total = existing if existing is not None else (0, 0.0)
        for pdf in rows:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
        total = round(total, 6)
        self._state.update((cnt, total))
        yield pd.DataFrame({"user_id": [key[0]], "cnt": [cnt], "total": [total]})

    def close(self) -> None:
        pass


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running totals via ``transformWithStateInPandas`` —
    requires the RocksDB state store (set
    ``spark.sql.streaming.stateStore.providerClass`` to
    ``...RocksDBStateStoreProvider``) and the ``protobuf`` package (the
    API's Python state-server protocol imports ``google.protobuf`` at
    worker startup; absent in this build container, standard on cluster
    images — the equivalence test importorskips on it).  Must equal
    :func:`running_user_totals` and the batch aggregate exactly."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_RunningTotalsProcessor(),
            outputStructType=_TOTALS_OUT,
            outputMode="Update",
            timeMode="None",
        )
    )


def session_dynamic_gap_agg(events: DataFrame) -> DataFrame:
    """Dynamic-gap sessionization (per-event gap expression: errors hold
    the session open 10 min, others 5) — works identically on static and
    streaming inputs; streaming callers add a watermark to bound session
    state.  Batch twin declared as ``suite.py::q_session_dynamic_gap``
    with a gaps-and-islands oracle."""
    gap = F.when(F.col("event_type") == "error", F.lit("10 minutes")).otherwise(
        F.lit("5 minutes")
    )
    sessions = (
        events.select(
            "user_id",
            "event_type",
            F.date_trunc("second", F.col("ts")).alias("tsec"),
        )
        .groupBy("user_id", F.session_window("tsec", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return sessions.select(
        "user_id",
        F.unix_timestamp("w.start").alias("start_s"),
        F.unix_timestamp("w.end").alias("end_s"),
        "n_events",
    )
