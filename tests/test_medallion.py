"""Reference-parity golden tests (BASELINE.md golden values)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from mongo_iceberg_lakehouse_spark.catalog import (
    create_namespace,
    show_tables,
    verify_count,
)
from mongo_iceberg_lakehouse_spark.plans.medallion import (
    EmptySourceError,
    bronze_ingest,
    gold_city_sales_report,
    run_pipeline,
    silver_transform,
)


def test_bronze_count_and_drift_schema(spark, orders_json_path):
    bronze = bronze_ingest(spark, orders_json_path)
    # golden: 6 documents (mongo_to_iceberg.ipynb:187,211)
    assert bronze.count() == 6
    # drift union: landmark/discount exist, null for non-drifted docs
    assert "discount" in bronze.columns
    fields = {f.name for f in bronze.schema["shipping_address"].dataType.fields}
    assert "landmark" in fields
    nulls = bronze.filter(F.col("discount").isNull()).count()
    assert nulls == 5
    assert bronze.filter(F.col("shipping_address.landmark").isNotNull()).count() == 1
    # synthetic _id is first column like the connector's inferred schema
    assert bronze.columns[0] == "_id"


def test_silver_struct_evolution_drops_landmark(spark, orders_json_path):
    bronze = bronze_ingest(spark, orders_json_path)
    silver = silver_transform(bronze)
    fields = [f.name for f in silver.schema["shipping_address"].dataType.fields]
    # golden: struct<city,state,zip,country>, landmark dropped, country=INDIA
    assert fields == ["city", "state", "zip", "country"]
    row = (
        silver.filter(F.col("order_id") == "ORD-2024-001")
        .select("shipping_address.*")
        .collect()[0]
    )
    assert row.asDict() == {
        "city": "Hyderabad", "state": "Telangana", "zip": "500081",
        "country": "INDIA",
    }


def test_silver_keep_landmark_variant(spark, orders_json_path):
    bronze = bronze_ingest(spark, orders_json_path)
    silver = silver_transform(bronze, keep_landmark=True)
    fields = [f.name for f in silver.schema["shipping_address"].dataType.fields]
    assert fields == ["city", "state", "zip", "landmark", "country"]


def test_gold_city_sales_report_golden_rows(spark, orders_json_path):
    gold = gold_city_sales_report(
        silver_transform(bronze_ingest(spark, orders_json_path))
    )
    rows = [tuple(r) for r in gold.collect()]
    # golden report, revenue-descending (gold_reporting.ipynb:142-146)
    assert rows == [
        ("Hyderabad", "INDIA", 1525.5, 2),
        ("Bangalore", "INDIA", 440.0, 3),
        ("Mumbai", "INDIA", 15.99, 1),
    ]


def test_pipeline_persist_and_catalog(spark, orders_json_path):
    out = run_pipeline(spark, orders_json_path, namespace="lh_test",
                       persist_tables=True)
    assert verify_count(spark, "lh_test.orders_bronze") == 6
    assert verify_count(spark, "lh_test.city_sales_report") == 3
    tables = {r.tableName for r in show_tables(spark, "lh_test").collect()}
    assert {"orders_bronze", "orders_silver", "city_sales_report"} <= tables
    assert out["gold"].count() == 3


def test_items_explode_normalization(spark):
    from mongo_iceberg_lakehouse_spark.queries import REGISTRY

    items = REGISTRY["medallion_items_explode"].fn(spark, "")
    rows = items.collect()
    assert len(rows) == 9  # 2+1+1+1+2+2 line items across the 6 seed docs
    amounts = {(r.order_id, r.product_id): r.line_amount for r in rows}
    assert amounts[("ORD-2024-001", "P001")] == 1200.50
    assert amounts[("ORD-2024-005", "P009")] == 50.0


def test_seed_json_written_once(tmp_path, monkeypatch):
    # the medallion queries call write_seed_json() on every build, so
    # repeated calls must share one file
    import tempfile

    from mongo_iceberg_lakehouse_spark.fixtures import (
        SEED_ORDERS,
        write_seed_json,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    first = write_seed_json()
    before = sorted(tmp_path.glob("*_orders.json"))
    assert [write_seed_json(), write_seed_json()] == [first, first]
    assert sorted(tmp_path.glob("*_orders.json")) == before == [Path(first)]
    assert json.loads(Path(first).read_text()) == SEED_ORDERS


def test_empty_source_guard(spark, tmp_path):
    empty = tmp_path / "empty.json"
    empty.write_text("[]")
    with pytest.raises(EmptySourceError):
        bronze_ingest(spark, str(empty))


def test_namespace_ddl_idempotent(spark):
    create_namespace(spark, "lh_ddl")
    create_namespace(spark, "lh_ddl")  # IF NOT EXISTS — no error
    cats = [r[0] for r in spark.sql("SHOW CATALOGS").collect()]
    assert "spark_catalog" in cats
