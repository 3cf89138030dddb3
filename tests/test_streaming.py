"""Structured Streaming: availableNow windowed counts == batch equivalent,
and every streaming query leaves the session and /tmp as it found them."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from mongo_iceberg_lakehouse_spark.queries import REGISTRY
from mongo_iceberg_lakehouse_spark.sources.tables import load_events
from mongo_iceberg_lakehouse_spark.streaming.events import (
    run_windowed_counts_available_now,
)

from .conftest import SF_SMOKE


def test_streaming_window_counts_match_batch(spark):
    streamed = run_windowed_counts_available_now(spark, SF_SMOKE)
    batch = (
        load_events(spark, SF_SMOKE)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt",
                "total_value")
    )
    s = {(r.window_start, r.event_type): (r.cnt, round(r.total_value, 6))
         for r in streamed.collect()}
    b = {(r.window_start, r.event_type): (r.cnt, round(r.total_value, 6))
         for r in batch.collect()}
    assert s == b
    assert len(s) > 0


def test_streaming_is_incremental_source(spark):
    # the stream reads the parquet as a file source with an explicit schema
    from mongo_iceberg_lakehouse_spark.streaming.events import read_events_stream

    stream = read_events_stream(spark, SF_SMOKE)
    assert stream.isStreaming
    assert dict(stream.dtypes)["ts"] == "timestamp"


def test_foreign_query_with_a_runner_name_survives(spark):
    # another caller's query that happens to carry a name the runner once
    # used must keep running through a streaming query of the engine
    foreign = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .writeStream.format("memory").queryName("events_window_counts")
        .start()
    )
    try:
        assert run_windowed_counts_available_now(spark, SF_SMOKE).count() > 0
        assert foreign.isActive
    finally:
        foreign.stop()
        spark.catalog.dropTempView("events_window_counts")


STREAMING_QUERIES = (
    "streaming_classifier_funnel",
    "streaming_dedup_events",
    "streaming_embedding_drift",
    "streaming_embedding_drift_incremental",
    "streaming_gold_to_jdbc",
    "streaming_neardup_incremental",
    "streaming_pii_funnel",
    "streaming_quality_funnel",
    "streaming_scd2_orders",
    "streaming_segment_counts",
    "streaming_user_profiles",
    "streaming_view_click_join",
    "streaming_window_counts",
)
SCRATCH_PREFIXES = (
    "scd2_stream_", "neardup_stream_", "drift_incr_", "stream_jdbc_"
)


def _footprint(spark):
    scratch = {
        e for e in os.listdir(tempfile.gettempdir())
        if e.startswith(SCRATCH_PREFIXES)
    }
    views = {t.name for t in spark.catalog.listTables()}
    active = {q.id for q in spark.streams.active}
    return scratch, views, active


@pytest.mark.parametrize("name", STREAMING_QUERIES)
def test_streaming_query_leaves_nothing_behind(spark, name):
    before = _footprint(spark)
    REGISTRY[name].fn(spark, SF_SMOKE).collect()
    scratch, views, active = _footprint(spark)
    assert scratch == before[0], "scratch roots left in the temp dir"
    assert views == before[1], "temp views left in the catalog"
    assert active == before[2], "streaming queries left running"
