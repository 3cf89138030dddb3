"""Incremental bronze -> silver: process only new time partitions.

The reference rebuilds silver wholesale every run (createOrReplace,
SURVEY.md §1.4). At 100 TB that re-reads the entire lake; the incremental
form uses the day-partitioned layout:

- bronze is partitioned by its event day (catalog.py ``partition_by``);
- silver records a watermark = the greatest day it has fully processed;
- a refresh reads ONLY bronze partitions after the watermark (partition
  pruning makes this an O(new data) scan), applies the silver transform,
  and appends those day partitions (dynamic partition overwrite keeps the
  refresh idempotent per day).

This is the lakehouse change-capture pattern without Delta/Iceberg CDC:
correctness comes from day-grain atomicity (a day is rewritten wholly or
not at all), matching the reference's snapshot-replace spirit at partition
granularity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scoped_conf


def silver_watermark(spark: SparkSession, silver_table: str) -> object | None:
    """Greatest fully-processed day, or None if silver doesn't exist yet."""
    if not spark.catalog.tableExists(silver_table):
        return None
    row = spark.table(silver_table).agg(F.max("day").alias("wm")).collect()[0]
    return row["wm"]


def refresh_silver_incremental(
    spark: SparkSession,
    bronze_table: str,
    silver_table: str,
    transform,
) -> int:
    """Apply ``transform`` to bronze partitions newer than silver's
    watermark and append them (dynamic partition overwrite). Returns the
    number of day partitions processed.

    ``transform`` takes and returns a DataFrame and must preserve the
    ``day`` partition column.
    """
    bronze = spark.table(bronze_table)
    wm = silver_watermark(spark, silver_table)
    fresh = bronze if wm is None else bronze.filter(F.col("day") > F.lit(wm))
    n_days = fresh.select("day").distinct().count()
    if n_days == 0:
        return 0
    out = transform(fresh)
    with scoped_conf(
        spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    ):
        if spark.catalog.tableExists(silver_table):
            # insertInto is position-based; match the table's column order
            # (the partition column migrates to the end on the initial
            # saveAsTable)
            out = out.select(*spark.table(silver_table).columns)
            out.write.mode("overwrite").insertInto(silver_table)
        else:
            out.write.mode("overwrite").partitionBy("day").saveAsTable(
                silver_table
            )
    return n_days
