"""Custom stateful streaming operator via applyInPandasWithState.

Demonstrates the arbitrary-state API the charter's "custom stateful
operators" line asks for (SURVEY.md §2.9): a per-user running profile
(event count, value sum, last event type) maintained across micro-batches
with explicit GroupState, processing-time timeout disabled (deterministic
for tests).

Scale notes: state is partitioned by user_id (the group key), so state size
is bounded by distinct users per executor; at real scale pair with watermark
+ timeout-based eviction (set ``timeout='EventTimeTimeout'`` and a watermark
on the stream) to keep the store bounded.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .events import collect_available_now, read_events_stream

OUTPUT_SCHEMA = (
    "user_id bigint, n_events bigint, total_value double, last_type string"
)
STATE_SCHEMA = "n bigint, total double, last string"


def _update_user_profile(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, total, last = state.get
    else:
        n, total, last = 0, 0.0, None
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        ordered = pdf.sort_values(["ts", "event_id"])
        n += len(ordered)
        total += float(ordered["value"].sum())
        last = str(ordered["event_type"].iloc[-1])
    state.update((n, total, last))
    yield pd.DataFrame(
        [(int(user_id), int(n), float(total), last)],
        columns=["user_id", "n_events", "total_value", "last_type"],
    )


def user_profiles(events: DataFrame) -> DataFrame:
    """Stateful per-user running profile over a streaming events frame."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update_user_profile,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_user_profiles_available_now(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Run the stateful operator over all available fixture data and return
    the final per-user profiles (update-mode memory sink: last row per user
    wins, deduped by n_events max)."""
    sink = collect_available_now(
        user_profiles(read_events_stream(spark, sf_dir)), "update"
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        sink.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def transform_with_state_available() -> bool:
    """Probe for Spark 4's transformWithStateInPandas prerequisites.

    The StatefulProcessor API ships in PySpark 4.x but its Python worker
    speaks protobuf to the JVM state server; without a working
    ``google.protobuf`` the streaming runner crashes at init
    (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE). Gate on the import so
    the engine can auto-select the newer API when the environment gains it;
    until then ``applyInPandasWithState`` (above) covers custom stateful
    operators with the same per-key pandas semantics.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False
