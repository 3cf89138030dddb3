"""The medallion bronze -> silver -> gold pipeline (reference parity core).

Reference behavior being reproduced (SURVEY.md §0, §2):
- bronze: schema-inferred document snapshot (mongo_to_iceberg.py:118-140) with
  an empty-source guard (:126-133, A5).
- silver: rebuild the nested ``shipping_address`` struct appending a constant
  ``country`` field and — faithfully to the reference — dropping the drifted
  ``landmark`` field by not re-selecting it (silver_transformation.py:96-103;
  runtime schema proof silver_transformation.ipynb:153-168).
- gold: revenue + order count grouped by nested city/country, descending by
  revenue (gold_reporting.py:104-115), golden rows
  (Hyderabad, INDIA, 1525.5, 2), (Bangalore, INDIA, 440.0, 3),
  (Mumbai, INDIA, 15.99, 1)  [gold_reporting.ipynb:142-146].

Every step is a lazy DataFrame transform; Catalyst prunes untouched columns
and pushes the aggregation partial/final. At 100 TB the only materialization
points are the table writes, which should be partitioned (catalog.py note);
``run_pipeline``'s lazy ``localCheckpoint`` of bronze scans the source once
for its four consumers (the reference re-scans — SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import create_namespace, save_table_replace, verify_count
from ..sources.json_source import ingest_json, with_object_id


class EmptySourceError(RuntimeError):
    """Raised when the ingested source has no rows (reference
    mongo_to_iceberg.py:132-133 raises on row_count == 0)."""


def bronze_ingest(spark: SparkSession, json_path: str) -> DataFrame:
    """Land raw documents with inferred (drift-union) schema + synthetic _id."""
    raw = ingest_json(spark, json_path)
    if not raw.columns or raw.isEmpty():
        raise EmptySourceError(f"no documents found at {json_path}")
    return with_object_id(raw)


def silver_transform(
    df: DataFrame, country: str = "INDIA", keep_landmark: bool = False
) -> DataFrame:
    """Struct evolution: rebuild shipping_address as
    struct<city,state,zip[,landmark],country=lit>.

    ``keep_landmark=False`` mirrors the reference's silent field drop
    (silver_transformation.py:96-103). Pass True to retain drifted fields —
    the honest default for a real pipeline, but not what the reference does.
    """
    fields = [
        F.col("shipping_address.city").alias("city"),
        F.col("shipping_address.state").alias("state"),
        F.col("shipping_address.zip").alias("zip"),
    ]
    if keep_landmark:
        fields.append(F.col("shipping_address.landmark").alias("landmark"))
    fields.append(F.lit(country).alias("country"))
    return df.withColumn("shipping_address", F.struct(*fields))


def gold_city_sales_report(df: DataFrame) -> DataFrame:
    """Revenue + order count by nested city/country, revenue-descending
    (gold_reporting.py:104-115)."""
    return (
        df.groupBy(
            F.col("shipping_address.city").alias("city"),
            F.col("shipping_address.country").alias("country"),
        )
        .agg(
            F.sum("total_amount").alias("total_revenue"),
            F.count("order_id").alias("order_count"),
        )
        .orderBy(F.col("total_revenue").desc())
    )


def run_pipeline(
    spark: SparkSession,
    json_path: str,
    namespace: str | None = None,
    persist_tables: bool = False,
) -> dict[str, DataFrame]:
    """End-to-end bronze -> silver -> gold.

    With ``persist_tables`` the intermediate tables are snapshot-replaced into
    the session catalog under ``namespace`` (default ``lakehouse``) and
    verified by COUNT(*) re-read, matching the reference's post-write checks
    (mongo_to_iceberg.py:144-146).
    """
    # four consumers: the bronze write, its count check, silver, gold
    bronze = bronze_ingest(spark, json_path).localCheckpoint(eager=False)
    silver = silver_transform(bronze)
    gold = gold_city_sales_report(silver)
    if persist_tables:
        ns = namespace or "lakehouse"
        create_namespace(spark, ns)
        save_table_replace(bronze, f"{ns}.orders_bronze")
        assert verify_count(spark, f"{ns}.orders_bronze") == bronze.count()
        save_table_replace(silver, f"{ns}.orders_silver")
        save_table_replace(gold, f"{ns}.city_sales_report")
    return {"bronze": bronze, "silver": silver, "gold": gold}
