"""Streaming deduplication: exactly-once event counts from at-least-once
delivery (§2.9 / phase F).

Every real event pipeline delivers duplicates (producer retries, replayed
partitions). The streaming fix is state-backed: ``dropDuplicatesWithinWatermark``
keeps each key's fingerprint only until the watermark passes it, so state is
O(keys per watermark window), not O(all history) — the property that makes
dedup feasible on an unbounded stream. (Plain ``dropDuplicates`` on a stream
never expires state.)

The harness unions two reads of the same source — a deterministic 2x
at-least-once stream — and dedups on event_id; the availableNow result must
equal the source exactly, which is the SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .events import collect_available_now, read_events_stream


def deduped_events_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    doubled = read_events_stream(spark, sf_dir).unionByName(
        read_events_stream(spark, sf_dir)
    )
    return doubled.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_streaming_dedup_available_now(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    stream = deduped_events_stream(spark, sf_dir)
    return collect_available_now(stream, "append")
