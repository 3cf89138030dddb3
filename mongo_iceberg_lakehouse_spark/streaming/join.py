"""Stream-stream interval join: click-to-view attribution (§2.9 / phase F).

The canonical two-stream stateful shape Spark supports natively and the
reference (batch-only, spark_jobs/*.ipynb) has no answer to: views and
clicks arrive on separate streams; each click joins to the views of the
same user within the preceding attribution window.

Both sides carry a watermark and the join condition bounds click time to
[view ts, view ts + window], so Spark can expire view state once the click
watermark passes view_ts + window and click state symmetrically — state is
O(traffic in one window), not O(history). Without the time bound the join
state would grow forever; Structured Streaming rejects unbounded
stream-stream joins in append mode for exactly that reason.

Harness: availableNow over the parquet fixture + memory sink. A single
micro-batch makes watermarking a no-op, so the result is exactly the batch
interval join — which is the SQL oracle. The multi-batch case (time-ordered
file slices, maxFilesPerTrigger=1) is covered in tests: with in-order
arrival the watermark never drops a row and the result still equals batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .events import collect_available_now, read_events_stream


def view_click_join(
    events: DataFrame,
    attribution_window: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """(user_id, view_id, click_id, view_ts, click_ts): every click paired
    with each same-user view it trails by <= attribution_window."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    return views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {attribution_window}")
        ),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        "view_ts",
        "click_ts",
    )


def view_click_left_join(
    events: DataFrame,
    attribution_window: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER variant: every view emits — joined rows as matches arrive,
    null-padded rows only once the watermark passes ``view_ts +
    attribution_window + watermark delay`` (the engine can then prove no
    future click can match). Consequence worth knowing: a view near the
    stream's end may never have its null row emitted — outer results are
    watermark-driven, not termination-driven.
    """
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    return views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {attribution_window}")
        ),
        "left_outer",
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        "view_ts",
        "click_ts",
    )


def run_view_click_join_available_now(
    spark: SparkSession,
    sf_dir: str,
    attribution_window: str = "30 minutes",
) -> DataFrame:
    """Materialize the stream-stream join through a memory sink (append
    mode — the only mode stream-stream joins support) and return it."""
    joined = view_click_join(
        read_events_stream(spark, sf_dir), attribution_window
    )
    return collect_available_now(joined, "append")


def run_stream_static_segment_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-static join: the events STREAM enriched against the static
    customer dimension (user_id -> c_custkey), rolled up to per-segment
    event counts + distinct users.

    The static side of a stream-static join is re-planned per micro-batch
    and needs no watermark or state — Spark broadcasts the dim into each
    batch; this is THE pattern for dimension enrichment in a 100 TB
    streaming ingest (dims are small, facts stream). availableNow + memory
    sink makes it batch-equivalent, so the plain SQL join is the oracle.
    """
    from pyspark.sql.functions import broadcast

    from ..sources.tables import read_parquet

    events = read_events_stream(spark, sf_dir)
    customers = read_parquet(spark, f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = events.join(
        broadcast(customers), events.user_id == customers.c_custkey
    )
    counts = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return collect_available_now(counts, "complete")
