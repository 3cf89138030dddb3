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

Every streaming entry point in the package runs through the helpers here:
``read_table_stream`` (fixture -> file-source stream), ``run_available_now``
(the one start/await/stop runner) and ``collect_available_now`` (memory
sink under a fresh name, view dropped before return).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import LongType

from ..session import scoped_conf, tune
from ..sources.tables import read_parquet


def run_available_now(spark: SparkSession, writer: DataStreamWriter) -> None:
    """Run ``writer`` to completion over all available input: the
    package's one streaming runner.

    ``spark.sql.shuffle.partitions`` is scoped to 8 for the run. Stateful
    operators instantiate one state store per shuffle partition, and that
    count is fixed at the query's first batch — for these single-run,
    fresh-checkpoint materializations the per-partition state-store fixed
    cost dominates (stream-stream join at sf0.1: 6.5 s at 32 partitions ->
    2.7 s at 8, warm). The previous value is restored on exit so
    surrounding BATCH queries keep full parallelism; a continuous
    production stream would instead size this to sustained throughput
    (state partition count cannot change after the checkpoint exists)."""
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        q = writer.trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()


def collect_available_now(stream: DataFrame, mode: str) -> DataFrame:
    """Run ``stream`` to completion into a memory sink and return the sink's
    rows. The sink's name is fresh per call, so no other query is touched,
    and its temp view is dropped before return (the returned frame holds
    the sink itself, not the view)."""
    spark = stream.sparkSession
    name = f"available_now_{uuid.uuid4().hex}"
    try:
        writer = stream.writeStream.format("memory").queryName(name)
        run_available_now(spark, writer.outputMode(mode))
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def read_table_stream(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """File-source stream over one fixture table.

    Applies the engine's runtime confs first: every streaming entry point
    funnels through here, and a caller-owned (driver) session without
    ``spark.sql.session.timeZone=UTC`` would shift window boundaries and
    hour extraction relative to the oracle. The schema is probed via the
    batch reader (streaming needs a declared schema), and file-source
    streams take a DIRECTORY, so a glob narrows it to the one file."""
    tune(spark)
    schema = read_parquet(spark, f"{sf_dir}/{table}.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``read_table_stream`` over the events fixture, ``ts`` normalized to a
    microsecond timestamp (handles both TIMESTAMP(NANOS)-as-long and native
    TIMESTAMP(MICROS) fixture generations, like ``tables.load_events``)."""
    raw = read_table_stream(spark, sf_dir, "events")
    if isinstance(raw.schema["ts"].dataType, LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def write_batch_files(
    frame: DataFrame, batch_col: str, n_batches: int, root: str
) -> str:
    """Slice ``frame`` on ``batch_col`` (0..n_batches-1) into one parquet
    file per batch, ``<root>/in/batch_{b:04d}.parquet``, and return that
    directory. The files' mtimes ascend with ``b``, so a file-source
    stream with ``maxFilesPerTrigger=1`` and ``latestFirst=false`` reads
    exactly one batch per micro-batch, in batch order."""
    in_dir = os.path.join(root, "in")
    os.makedirs(in_dir)
    for b in range(n_batches):
        part = os.path.join(root, f"part_{b}")
        frame.filter(F.col(batch_col) == b).coalesce(1).write.parquet(part)
        data = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        dst = os.path.join(in_dir, f"batch_{b:04d}.parquet")
        shutil.move(os.path.join(part, data), dst)
        os.utime(dst, (1_700_000_000 + b, 1_700_000_000 + b))
    return in_dir


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
    spark: SparkSession, sf_dir: str, window: str = "1 hour"
) -> DataFrame:
    """Run the windowed aggregation over all available data and return the
    materialized result. Batch-equivalent by construction, so it admits a
    plain SQL oracle."""
    stream = windowed_counts(read_events_stream(spark, sf_dir), window=window)
    return collect_available_now(stream, "complete")
