"""Incremental silver refresh == full recompute, touching only new days."""

from __future__ import annotations

from pyspark.sql import functions as F

from mongo_iceberg_lakehouse_spark.catalog import create_namespace, save_table_replace
from mongo_iceberg_lakehouse_spark.plans.incremental import (
    refresh_silver_incremental,
    silver_watermark,
)
from mongo_iceberg_lakehouse_spark.sources.tables import load_events

from .conftest import SF_SMOKE


def _transform(df):
    # silver step: enrich with a derived column, preserve the day partition
    return df.withColumn("value_sq", F.col("value") * F.col("value"))


def test_incremental_refresh_matches_full(spark):
    create_namespace(spark, "inc_test")
    ev = load_events(spark, SF_SMOKE).withColumn(
        "day", F.to_date(F.date_trunc("day", F.col("ts")))
    )
    cutoff = F.lit("2024-01-08").cast("date")

    # day-partitioned bronze, first loaded with only the early days
    save_table_replace(ev.filter(F.col("day") < cutoff),
                       "inc_test.events_bronze", partition_by=["day"])
    n1 = refresh_silver_incremental(
        spark, "inc_test.events_bronze", "inc_test.events_silver", _transform
    )
    assert n1 > 0
    wm1 = silver_watermark(spark, "inc_test.events_silver")

    # late-arriving days land in bronze; refresh processes ONLY those
    save_table_replace(ev, "inc_test.events_bronze", partition_by=["day"])
    n2 = refresh_silver_incremental(
        spark, "inc_test.events_bronze", "inc_test.events_silver", _transform
    )
    total_days = ev.select("day").distinct().count()
    assert n2 == total_days - n1  # only the new partitions were processed
    assert silver_watermark(spark, "inc_test.events_silver") > wm1

    silver = spark.table("inc_test.events_silver")
    full = _transform(ev)
    assert silver.count() == full.count()
    s = {(r.event_id): round(r.value_sq, 6) for r in silver.collect()}
    f = {(r.event_id): round(r.value_sq, 6) for r in full.collect()}
    assert s == f

    # idempotent: nothing new -> no partitions processed
    assert refresh_silver_incremental(
        spark, "inc_test.events_bronze", "inc_test.events_silver", _transform
    ) == 0


def test_incremental_refresh_restores_overwrite_mode(spark):
    # the dynamic-overwrite conf is scoped to the refresh's own write: a
    # caller-owned session must come back with the mode it handed in, on
    # both the initial saveAsTable and the later insertInto path
    key = "spark.sql.sources.partitionOverwriteMode"
    create_namespace(spark, "inc_conf")
    bronze = spark.createDataFrame(
        [(1, 2.0, "2024-01-01"), (2, 3.0, "2024-01-02")],
        "event_id long, value double, day string",
    ).withColumn("day", F.col("day").cast("date"))
    save_table_replace(bronze, "inc_conf.bronze", partition_by=["day"])
    spark.conf.set(key, "static")
    try:
        refresh_silver_incremental(
            spark, "inc_conf.bronze", "inc_conf.silver", _transform
        )
        assert spark.conf.get(key) == "static"
        later = bronze.withColumn("day", F.date_add("day", 2))
        save_table_replace(
            bronze.unionByName(later), "inc_conf.bronze", partition_by=["day"]
        )
        assert refresh_silver_incremental(
            spark, "inc_conf.bronze", "inc_conf.silver", _transform
        ) == 2
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.unset(key)
