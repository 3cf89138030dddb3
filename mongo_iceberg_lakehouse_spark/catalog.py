"""Catalog operations: namespace DDL, snapshot-replace tables, introspection.

Reference parity (SURVEY.md §2.1):
- S4  ``df.writeTo(ident).createOrReplace()``  -> save_table_replace
      (reference: spark_jobs/mongo_to_iceberg.py:140, silver_transformation.py:115)
- S5/S6 table scan by name                     -> read_table
      (reference: spark_jobs/silver_transformation.py:85, gold_reporting.py:96)
- S8  ``CREATE NAMESPACE IF NOT EXISTS``       -> create_namespace
      (reference: spark_jobs/mongo_to_iceberg.py:136)
- S9  ``SHOW CATALOGS`` / ``SHOW TABLES IN``   -> show_catalogs / show_tables
      (reference: spark_jobs/query_iceberg.ipynb:116,139)

The reference replaces tables wholesale each run (snapshot-replace, no
incremental MERGE) with the DataFrameWriterV2 ``createOrReplace``, which
needs an Iceberg catalog. ``save_table_replace`` writes with
``saveAsTable(mode="overwrite")`` against the built-in session catalog
instead (weaker atomicity, same semantics — SURVEY.md §7 "what's hard"
item 5).

Scale note: lake tables should be partitioned on their natural time key so
partition pruning kicks in at 100 TB — pass ``partition_by`` (the reference
wrote unpartitioned tables; we don't repeat that).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def create_namespace(spark: SparkSession, namespace: str) -> None:
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {namespace}")


def show_catalogs(spark: SparkSession) -> DataFrame:
    return spark.sql("SHOW CATALOGS")


def show_tables(spark: SparkSession, namespace: str) -> DataFrame:
    return spark.sql(f"SHOW TABLES IN {namespace}")


def table_exists(spark: SparkSession, ident: str) -> bool:
    return spark.catalog.tableExists(ident)


def save_table_replace(
    df: DataFrame,
    ident: str,
    partition_by: Sequence[str] | None = None,
) -> None:
    """Create-or-replace ``ident`` with ``df`` (snapshot-replace semantics)
    on the built-in session catalog."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(ident)


def read_table(spark: SparkSession, ident: str) -> DataFrame:
    return spark.read.table(ident)


def verify_count(spark: SparkSession, ident: str) -> int:
    """Post-write verification query (reference A4:
    spark_jobs/mongo_to_iceberg.py:144-146)."""
    row = spark.sql(f"SELECT COUNT(*) AS cnt FROM {ident}").collect()[0]
    return int(row["cnt"])


def save_table_bucketed(
    df: DataFrame,
    ident: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    sort_cols: Sequence[str] | None = None,
    path: str | None = None,
) -> None:
    """Write ``df`` as a BUCKETED (and per-bucket sorted) parquet table —
    the co-located-join layout: two tables bucketed on their join keys
    into the same ``n_buckets`` join with NO shuffle on either side (the
    bucket id IS the partitioning; with ``sort_cols`` the sort-merge
    join's per-bucket sort is pre-paid at write time too). The Hive/
    Iceberg bucket-transform analog on the session catalog; at 100 TB
    this converts every repeated fact-to-fact join on the bucket key
    from two corpus-sized exchanges into a map-side zip of bucket files.

    The table is dropped first (external-location re-runs would
    otherwise collide), then written via ``bucketBy().sortBy()``;
    ``path`` makes it external so callers can place data under a temp
    root. Data-source bucketing needs no Hive metastore.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {ident}")
    # One FILE per bucket: repartition on the bucket columns first
    # (repartition and bucketBy share the murmur3-pmod placement, so each
    # bucket lands wholly in one task). Without it every write task emits
    # a file per bucket — and the read side only trusts the write-time
    # sortBy (eliding the sort-merge join's Sort) when files-per-bucket
    # is exactly 1.
    from pyspark.sql import functions as F

    df = df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
    writer = (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(ident)
