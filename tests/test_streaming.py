"""Structured Streaming tests (SURVEY.md §2.9 [EXT]): every streaming
aggregation must equal its batch twin on the same input (stream ≡ batch),
late data must be governed by the watermark, and stateful operators must
carry state across micro-batches."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from name_match_ml_spark.sources.parquet import table
from name_match_ml_spark.streaming.windows import (
    dedup_within_watermark,
    running_user_totals,
    session_aggregate,
    sliding_counts,
    stream_events,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF}/events.parquet", d / "events.parquet")
    return str(d)


@pytest.fixture(scope="module")
def batch_events(spark):
    return table(spark, SF, "events")


def _run_stream(df, mode: str):
    q = (
        df.writeStream.format("memory")
        .queryName("t_out")
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    spark = df.sparkSession
    out = spark.table("t_out").collect()
    q.stop()
    spark.catalog.dropTempView("t_out")
    return out


def _rows_set(rows):
    return sorted(tuple(r) for r in rows)


def test_tumbling_stream_equals_batch(spark, events_dir, batch_events):
    got = _run_stream(tumbling_counts(stream_events(spark, events_dir)), "complete")
    want = tumbling_counts(batch_events).collect()
    assert _rows_set(got) == _rows_set(want)
    assert len(got) > 0


def test_sliding_stream_equals_batch(spark, events_dir, batch_events):
    got = _run_stream(sliding_counts(stream_events(spark, events_dir)), "complete")
    want = sliding_counts(batch_events).collect()
    assert _rows_set(got) == _rows_set(want)
    # sliding 10m/5m → every event in exactly 2 windows
    assert sum(r.cnt for r in got) == 2 * batch_events.count()


def test_session_stream_equals_batch(spark, events_dir, batch_events):
    got = _run_stream(session_aggregate(stream_events(spark, events_dir)), "complete")
    want = session_aggregate(batch_events).collect()
    assert _rows_set(got) == _rows_set(want)
    for r in got:
        assert r.session_end >= r.session_start + 300  # gap-exclusive end


def test_dedup_within_watermark_drops_duplicates(spark, events_dir):
    # duplicate every event: a second identical file in the source dir
    import shutil as sh

    dup_dir = events_dir  # same dir: two files → two micro-batch inputs
    sh.copy(f"{dup_dir}/events.parquet", f"{dup_dir}/events_copy.parquet")
    try:
        stream = dedup_within_watermark(stream_events(spark, dup_dir))
        got = _run_stream(stream, "append")
        ids = [r.event_id for r in got]
        assert len(ids) == len(set(ids)), "duplicate event_ids survived dedup"
        assert len(set(ids)) == 1000  # all original events kept once
    finally:
        import os

        os.remove(f"{dup_dir}/events_copy.parquet")


def test_running_user_totals_stateful(spark, events_dir, batch_events):
    got = _run_stream(running_user_totals(stream_events(spark, events_dir)), "update")
    # final state per user (last update wins) must equal the batch totals
    final = {}
    for r in got:
        final[r.user_id] = (r.cnt, r.total)
    want = {
        r.user_id: (r.cnt, r.total)
        for r in batch_events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 6).alias("total"),
        )
        .collect()
    }
    assert set(final) == set(want)
    for uid, (cnt, total) in want.items():
        assert final[uid][0] == cnt, uid
        assert final[uid][1] == pytest.approx(total, abs=1e-5), uid


def test_foreachbatch_parquet_sink_idempotent(spark, events_dir, batch_events, tmp_path):
    """The idempotent foreachBatch parquet sink must (a) equal the batch
    result and (b) not duplicate rows when the stream restarts from the
    same checkpoint (replay overwrites, append would double)."""
    from name_match_ml_spark.streaming.sinks import write_stream_parquet

    out = str(tmp_path / "sunk")
    ckpt = str(tmp_path / "ckpt")
    errors = stream_events(spark, events_dir).filter(F.col("event_type") == "error")
    q = write_stream_parquet(errors, out, checkpoint=ckpt)
    q.awaitTermination(120)
    q.stop()
    want = batch_events.filter(F.col("event_type") == "error").count()
    assert spark.read.parquet(out).count() == want

    # restart from the same checkpoint: nothing new → no duplicates
    q2 = write_stream_parquet(
        stream_events(spark, events_dir).filter(F.col("event_type") == "error"),
        out,
        checkpoint=ckpt,
    )
    q2.awaitTermination(120)
    q2.stop()
    assert spark.read.parquet(out).count() == want


@pytest.mark.slow
def test_interval_join_stream_equals_batch(spark, events_dir, batch_events):
    """Watermarked stream-stream inner interval join emits on match, so
    its availableNow drain must equal the same builder on static input."""
    from name_match_ml_spark.streaming.windows import click_error_interval_join

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "error"),
        )

    sc, se = split(stream_events(spark, events_dir))
    got = _rows_set(_run_stream(click_error_interval_join(sc, se), "append"))
    bc, be = split(batch_events)
    want = _rows_set(click_error_interval_join(bc, be).collect())
    assert got == want and want


def test_enrich_stream_static_join_equals_batch(spark, events_dir, batch_events):
    from name_match_ml_spark.streaming.windows import enrich_stream

    dim = table(spark, SF, "customer")
    got = _run_stream(
        enrich_stream(stream_events(spark, events_dir), dim), "complete"
    )
    want = enrich_stream(batch_events, dim).collect()
    assert _rows_set(got) == _rows_set(want)
    assert len(got) > 0


def test_transform_with_state_totals_equals_batch(spark, events_dir, batch_events):
    """The modern stateful API (transformWithStateInPandas + RocksDB
    state store) must produce the same final per-user totals as the
    batch aggregate and the applyInPandasWithState operator.

    Skipped where protobuf is unavailable: transformWithState's Python
    state-server protocol imports google.protobuf at worker startup
    (the operator itself is correct on any standard cluster image)."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas needs protobuf for its state protocol",
    )
    from name_match_ml_spark.streaming.windows import running_user_totals_tws

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        got = _run_stream(
            running_user_totals_tws(stream_events(spark, events_dir)), "update"
        )
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    # update-mode may emit several rows per key across micro-batches;
    # the LAST emission per user is the final state
    final = {}
    for r in got:
        final[r.user_id] = (r.cnt, r.total)
    want = {
        r.user_id: (r.cnt, r.total)
        for r in batch_events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 6).alias("total"),
        )
        .collect()
    }
    assert set(final) == set(want)
    for u, (cnt, total) in want.items():
        assert final[u][0] == cnt
        assert abs(final[u][1] - total) < 1e-6


def test_session_dynamic_gap_stream_equals_batch(spark, events_dir, batch_events):
    from name_match_ml_spark.streaming.windows import session_dynamic_gap_agg

    stream_in = stream_events(spark, events_dir).withWatermark("ts", "1 hour")
    got = _run_stream(session_dynamic_gap_agg(stream_in), "complete")
    want = session_dynamic_gap_agg(batch_events).collect()
    assert _rows_set(got) == _rows_set(want)
    assert len(got) > 0


@pytest.mark.slow
def test_left_outer_interval_join_stream_equals_batch_minus_tail(
    spark, events_dir, batch_events
):
    """LEFT OUTER stream-stream join: matched rows emit eagerly; NULL
    rows are watermark-gated, so the streamed set must equal the batch
    set minus unmatched errors inside the final watermark+horizon tail
    (state Spark cannot prove final when the stream drains)."""
    import datetime as dt

    from name_match_ml_spark.streaming.windows import error_click_left_join

    def split(df):
        return (
            df.filter(F.col("event_type") == "error"),
            df.filter(F.col("event_type") == "click"),
        )

    se, sc = split(stream_events(spark, events_dir))
    got = _rows_set(_run_stream(error_click_left_join(se, sc), "append"))
    be, bc = split(batch_events)
    want_rows = error_click_left_join(be, bc).collect()
    want = _rows_set(want_rows)

    got_set, want_set = set(got), set(want)
    assert got_set <= want_set
    missing = want_set - got_set
    # every missing row is an unmatched error in the unfinalizable tail
    max_ts = max(r.error_ts_s for r in want_rows)
    tail_start = max_ts - (30 * 60) - (10 * 60)
    for row in missing:
        user_id, error_id, click_id, error_ts_s, click_ts_s = row
        assert click_id is None
        assert error_ts_s > tail_start
    # and the join is not vacuous: matched and NULL rows both streamed
    assert any(r[2] is not None for r in got)
    assert any(r[2] is None for r in got)


@pytest.mark.slow
def test_foreachbatch_incremental_agg_state_equals_batch(
    spark, batch_events, tmp_path_factory
):
    """Incremental materialized-view maintenance as a STREAM: each
    micro-batch aggregates to mergeable state and folds into the
    running state table with operators/cdc.py::merge_agg_state; after
    the drain the maintained state must equal the one-shot batch
    aggregate — the streaming twin of the agg_state_merge declared
    query.  Four single-file micro-batches force real merging."""
    from name_match_ml_spark.operators.cdc import agg_state_of, merge_agg_state

    d = str(tmp_path_factory.mktemp("mv_stream"))
    batch_events.repartition(4).write.mode("overwrite").parquet(d)

    state = {"df": None, "batches": 0}

    def upsert(batch_df, _bid):
        delta = agg_state_of(batch_df, ["user_id"], "value")
        if state["df"] is None:
            state["df"] = delta.localCheckpoint()
        else:
            state["df"] = merge_agg_state(
                state["df"], delta, ["user_id"]
            ).localCheckpoint()
        state["batches"] += 1

    stream = (
        spark.readStream.schema(batch_events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = stream.writeStream.foreachBatch(upsert).trigger(availableNow=True).start()
    q.awaitTermination(180)
    q.stop()

    assert state["batches"] >= 2, "expected multiple micro-batches"
    expect = agg_state_of(batch_events, ["user_id"], "value")
    assert _rows_set(state["df"].collect()) == _rows_set(expect.collect())


def test_events_loaders_set_nanos_conf_only_for_nanos_ts(spark, events_dir, tmp_path):
    """sf0.001 lands ``ts`` as timestamp[us]: loading it, batch or stream,
    leaves ``nanosAsLong`` unset.  A TIMESTAMP(NANOS) copy of the same rows
    loads, in batch, to the same rows and leaves the setting as it was."""
    prior = spark.conf.get(NANOS_AS_LONG, None)
    try:
        spark.conf.unset(NANOS_AS_LONG)
        want = table(spark, SF, "events").orderBy("event_id").collect()
        stream_events(spark, events_dir)
        assert spark.conf.get(NANOS_AS_LONG, None) is None

        ev = pq.read_table(f"{SF}/events.parquet")
        i = ev.schema.get_field_index("ts")
        pq.write_table(
            ev.set_column(i, "ts", ev["ts"].cast(pa.timestamp("ns"))),
            tmp_path / "events.parquet",
        )
        nanos = table(spark, str(tmp_path), "events")
        assert spark.conf.get(NANOS_AS_LONG, None) is None
        assert nanos.orderBy("event_id").collect() == want
        # a value set before the load is restored, not unset
        spark.conf.set(NANOS_AS_LONG, "false")
        table(spark, str(tmp_path), "events")
        assert spark.conf.get(NANOS_AS_LONG, None) == "false"
    finally:
        if prior is None:
            spark.conf.unset(NANOS_AS_LONG)
        else:
            spark.conf.set(NANOS_AS_LONG, prior)
