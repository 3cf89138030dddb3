"""Pluggable external connectors (reference S2/S3/S5/S7, SURVEY.md §2.1).

The reference wires MongoDB (mongo-spark-connector), Iceberg-on-Nessie, and
Postgres JDBC. Those connectors are configuration + jars, not engine logic, so
they live behind this thin registry: the rest of the engine only sees
DataFrames. In the test environment the jars are absent, so each call is
gated — constructing the reader/writer raises a clear error if the format
isn't on the classpath, and tests exercise the local formats instead.

Reference citations:
- MongoDB scan:  spark_jobs/mongo_to_iceberg.py:118-124
- Iceberg scan:  spark_jobs/silver_transformation.py:85 ("iceberg" by-path load)
- JDBC sink:     spark_jobs/gold_reporting.py:125-135 (overwrite to Postgres)
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


class ConnectorUnavailable(RuntimeError):
    pass


def _gate(fn, format_name: str):
    try:
        return fn()
    except Exception as exc:  # jar missing / class not found / bad config
        raise ConnectorUnavailable(
            f"connector format {format_name!r} unavailable in this environment "
            f"(add the connector jar to spark.jars.packages): {exc}"
        ) from exc


def read_mongodb(
    spark: SparkSession, uri: str, database: str, collection: str
) -> DataFrame:
    """Schema-inferred MongoDB collection scan (reference S3)."""
    return _gate(
        lambda: (
            spark.read.format("mongodb")
            .option("connection.uri", uri)
            .option("database", database)
            .option("collection", collection)
            .load()
        ),
        "mongodb",
    )


def write_mongodb(
    df: DataFrame, uri: str, database: str, collection: str, mode: str = "append"
) -> None:
    """MongoDB collection sink (reference S2's insert_many, as a Spark write)."""
    _gate(
        lambda: (
            df.write.format("mongodb")
            .option("connection.uri", uri)
            .option("database", database)
            .option("collection", collection)
            .mode(mode)
            .save()
        ),
        "mongodb",
    )


def read_kafka_stream(
    spark: SparkSession, bootstrap_servers: str, topic: str
) -> DataFrame:
    """Kafka streaming source (production ingest path for streaming/;
    gated: the spark-sql-kafka jar is not in this image)."""
    return _gate(
        lambda: (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .load()
        ),
        "kafka",
    )


def read_iceberg(spark: SparkSession, ident: str) -> DataFrame:
    """Iceberg table scan by path API (reference S5)."""
    return _gate(lambda: spark.read.format("iceberg").load(ident), "iceberg")


def jvm_class_available(spark: SparkSession, class_name: str) -> bool:
    """True iff ``class_name`` resolves through the JVM context classloader
    (the loader Spark uses for --jars / spark.jars.packages additions).
    The generic probe behind every connector-availability check, so e2e
    round-trip tests can self-enable the day a jar appears in the image."""
    try:
        jvm = spark.sparkContext._jvm
        loader = jvm.java.lang.Thread.currentThread().getContextClassLoader()
        jvm.java.lang.Class.forName(class_name, False, loader)
        return True
    except Exception:
        return False


def mongodb_connector_available(spark: SparkSession) -> bool:
    """True iff the mongo-spark-connector jar is on the classpath."""
    return jvm_class_available(
        spark, "com.mongodb.spark.sql.connector.MongoTableProvider"
    )


def kafka_connector_available(spark: SparkSession) -> bool:
    """True iff the spark-sql-kafka jar is on the classpath."""
    return jvm_class_available(
        spark, "org.apache.spark.sql.kafka010.KafkaSourceProvider"
    )


def jdbc_driver_available(
    spark: SparkSession, driver: str = "org.postgresql.Driver"
) -> bool:
    """True iff the given JDBC driver class is on the classpath."""
    return jvm_class_available(spark, driver)


def iceberg_runtime_available(spark: SparkSession) -> bool:
    """True iff the iceberg-spark-runtime jar is on the JVM classpath.

    Probed by resolving Iceberg's SparkCatalog class through the JVM's
    context classloader (the loader Spark uses for `--jars` /
    `spark.jars.packages` additions). The connector tests use it to skip
    Iceberg-only cases; the package has no Iceberg write path.
    """
    return jvm_class_available(spark, "org.apache.iceberg.spark.SparkCatalog")


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    user: str = "",
    password: str = "",
    driver: str = "org.postgresql.Driver",
    mode: str = "overwrite",
) -> None:
    """JDBC sink, overwrite mode (reference S7)."""
    _gate(
        lambda: (
            df.write.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .option("user", user)
            .option("password", password)
            .option("driver", driver)
            .mode(mode)
            .save()
        ),
        "jdbc",
    )


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    user: str = "",
    password: str = "",
    driver: str = "org.postgresql.Driver",
) -> DataFrame:
    """JDBC table scan — the read side of the S7 sink, same option
    surface. At cluster scale add partitionColumn/lowerBound/upperBound/
    numPartitions so the scan fans out instead of funneling through one
    connection; the report-sized tables this engine round-trips don't
    need it."""
    return _gate(
        lambda: (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .option("user", user)
            .option("password", password)
            .option("driver", driver)
            .load()
        ),
        "jdbc",
    )


# Derby ships INSIDE the stock Spark distribution (the Hive metastore's
# embedded database), so its in-process JDBC driver is the one wire path
# that needs no external endpoint or extra jar: `jdbc:derby:<dir>;create=
# true` boots a real database in the executor JVM. The engine uses it to
# prove the S7 JDBC sink/scan code path (dialect resolution, DDL type
# mapping, batched inserts, overwrite semantics) end-to-end in THIS image;
# against Postgres only the url/driver strings change.
DERBY_EMBEDDED_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _redirect_derby_log(spark: SparkSession) -> None:
    """Send derby.log to /tmp instead of the process CWD (a boot-time
    system property: effective only before the first connection boots the
    engine)."""
    try:
        spark.sparkContext._jvm.java.lang.System.setProperty(
            "derby.stream.error.file", "/tmp/derby_engine.log"
        )
    except Exception:
        pass


def derby_embedded_available(spark: SparkSession) -> bool:
    """True iff Derby's embedded JDBC driver is on the classpath (it is,
    in every stock Spark distribution). Also redirects derby.log away from
    the process CWD."""
    _redirect_derby_log(spark)
    return jvm_class_available(spark, DERBY_EMBEDDED_DRIVER)


@contextmanager
def scratch_derby(
    spark: SparkSession, prefix: str
) -> Iterator[tuple[str, str]]:
    """Yield ``(url, scratch_dir)``: the create-URL of a fresh embedded
    Derby database inside a new temp dir, and that dir for the caller's
    other scratch files. On exit the database is shut down and the dir
    removed. Derby signals a successful shutdown by RAISING SQLState
    08006, so the exception there is the success path."""
    _redirect_derby_log(spark)
    base = tempfile.mkdtemp(prefix=prefix)
    db = f"{base}/gold"
    try:
        yield f"jdbc:derby:{db};create=true", base
    finally:
        try:
            spark.sparkContext._jvm.java.sql.DriverManager.getConnection(
                f"jdbc:derby:{db};shutdown=true"
            )
        except Exception:
            pass
        shutil.rmtree(base, ignore_errors=True)
