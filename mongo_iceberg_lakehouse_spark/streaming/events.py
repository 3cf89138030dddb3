"""Structured Streaming over the events table (SURVEY.md §2.9 / phase F).

The reference has no streaming; its cadence is Airflow-triggered batch. The
engine adds the micro-batch ingestion surface the charter asks for:
``readStream`` -> watermarked tumbling-window aggregation -> sink. Tests (and
the driver's oracle query) run with ``availableNow`` against the parquet
fixture + a memory sink, which exercises the full streaming planner while
producing a deterministic, batch-equivalent result.

Scale notes: the same code pointed at a real landing directory (or Kafka
source) runs continuously; the watermark bounds state size, and the window
aggregation shuffles on (window, event_type) — a bounded-cardinality key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import scoped_conf


def state_partitions(spark: SparkSession, n: int = 8):
    """Scope ``spark.sql.shuffle.partitions`` down around an ephemeral
    availableNow materialization.

    Stateful operators instantiate one state store per shuffle partition,
    and that count is fixed at the query's first batch — for these
    single-batch, fresh-checkpoint test materializations the per-partition
    state-store fixed cost dominates (stream-stream join at sf0.1: 6.5 s at
    32 partitions -> 2.7 s at 8, warm). The previous value is restored on
    exit so surrounding BATCH queries keep full parallelism; a continuous
    production stream would instead size this to sustained throughput
    (state partition count cannot change after the checkpoint exists).
    """
    return scoped_conf(spark, {"spark.sql.shuffle.partitions": str(n)})


def _events_raw_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture, ``ts`` normalized to a
    microsecond timestamp (handles both TIMESTAMP(NANOS)-as-long and native
    TIMESTAMP(MICROS) fixture generations, like ``tables.load_events``).

    Applies the engine's runtime confs first: every streaming entry point
    funnels through here, and a caller-owned (driver) session without
    ``spark.sql.session.timeZone=UTC`` would shift window boundaries and
    hour extraction relative to the oracle."""
    from ..session import tune
    from ..sources.tables import read_parquet

    tune(spark)
    # Probe the footer via the batch reader: streaming needs a declared schema.
    ts_type = read_parquet(spark, f"{sf_dir}/events.parquet").schema["ts"].dataType
    raw = (
        spark.readStream.schema(_events_raw_schema(ts_type))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(ts_type, LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts + value sums per event_type.

    The value sum is an exact BIGINT of half-up micro-units (divided back
    once at the end): a raw double sum over ~14k events/window sits off
    the float grid and the sf1 gate caught its .6g rendering flipping
    with combine order (10014.4 vs 10014.3) — the knife-edge discipline,
    applied identically in the SQL oracle."""
    vmicro = F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            (F.sum(vmicro) / F.lit(1e6)).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "cnt",
            "total_value",
        )
    )


def run_windowed_counts_available_now(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    query_name: str = "events_window_counts",
) -> DataFrame:
    """Run the windowed aggregation over all available data and return the
    materialized result (memory sink). Batch-equivalent by construction, so
    it admits a plain SQL oracle."""
    for q in spark.streams.active:
        if q.name == query_name:
            q.stop()
    stream = windowed_counts(read_events_stream(spark, sf_dir), window=window)
    with state_partitions(spark):
        q = (
            stream.writeStream.format("memory")
            .queryName(query_name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    return spark.table(query_name)
