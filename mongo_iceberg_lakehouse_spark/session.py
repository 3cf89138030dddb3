"""SparkSession factory with scale-oriented defaults.

100 TB posture (tested on local[32], designed for a 1000-executor cluster):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast conversion — the knobs that make a fixed plan survive a
  100x scale-up.
- ``spark.sql.shuffle.partitions`` defaults low for local mode; on a cluster
  set it ~2-3x total cores and let AQE coalesce down. Every operator here is
  declarative DataFrame code, so the same plan re-partitions transparently.
- Session timezone pinned to UTC so timestamp semantics are identical on the
  driver, the executors, and the DuckDB correctness oracle.
- Arrow enabled for driver-side conversions; the Python stages (codecs,
  BLAS similarity kernels, ordered folds) exchange Arrow batches with the
  JVM (functions/batches.py); everything else stays JVM-side inside
  whole-stage codegen.
- ``spark.sql.legacy.parquet.nanosAsLong``: the events fixture carries
  TIMESTAMP(NANOS) which Spark's vectorized reader rejects; we read it as a
  long and convert (see sources.tables.load_events).
"""

from __future__ import annotations

import os
import threading
import weakref
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# Settable on a live session (spark.conf.set) — applied defensively by every
# query entry point because the driver may hand us its own SparkSession.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Fixture events.parquet uses nanosecond timestamps (see module docstring).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Newer fixture generations store TIMESTAMP(MICROS) with
    # isAdjustedToUTC=false; infer it as TIMESTAMP_LTZ (session tz = UTC, so
    # values are unchanged) because unix_micros() and streaming watermarks
    # require LTZ, and DuckDB's naive TIMESTAMP compares identically.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}

# Only honored at JVM launch (our own sessions; ignored for driver sessions).
STATIC_CONFS: dict[str, str] = {
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent). Also sizes
    shuffle partitions to the session's actual parallelism when the caller
    left Spark's 200 default (AQE coalesces below it at runtime)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable on this build — keep going
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            cores = spark.sparkContext.defaultParallelism
            spark.conf.set("spark.sql.shuffle.partitions", str(max(32, cores * 2)))
    except Exception:
        pass
    return spark


# Per session, per key: [value before the first open scope, open scopes as
# [(scope token, value it set), ...] in entry order].
_scopes: weakref.WeakKeyDictionary[SparkSession, dict[str, list]] = (
    weakref.WeakKeyDictionary()
)
_scopes_lock = threading.Lock()


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Apply runtime ``confs`` for the duration of the block, then restore
    each key's prior value (or unset it if it had none), so a caller-owned
    session leaves the block as it entered.

    Scopes may nest (a sweep scoping a key around a query that scopes it
    again) or overlap on one session (two threads each running a
    streaming query). Per key the value before the first open scope is
    saved; a scope that exits drops its own entry and the key returns to
    the value of the latest scope still open, or to the saved value when
    none is. The lock covers only the bookkeeping, never the caller's
    block, because a ``foreachBatch`` callback inside it runs on another
    thread."""
    token = object()
    taken = []
    try:
        with _scopes_lock:
            held = _scopes.setdefault(spark, {})
            for k, v in confs.items():
                if k not in held:
                    try:
                        prior = spark.conf.get(k)
                    except Exception:
                        prior = None
                    held[k] = [prior, []]
                held[k][1].append((token, v))
                taken.append(k)
                spark.conf.set(k, v)
        yield
    finally:
        with _scopes_lock:
            held = _scopes[spark]
            for k in taken:
                prior, open_ = held[k]
                open_[:] = [e for e in open_ if e[0] is not token]
                if open_:
                    spark.conf.set(k, open_[-1][1])
                    continue
                del held[k]
                if prior is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, prior)


def spread(df: DataFrame) -> DataFrame:
    """Repartition a CPU-bound stage to the session parallelism when its
    input has fewer partitions: a small parquet source arrives as 1-2
    input splits, which would pin the whole stage to 1-2 cores
    (PERF_NOTES §8). At real scale the source has many splits and this is
    a no-op."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def get_spark(
    app_name: str = "mongo-iceberg-lakehouse-spark",
    master: str | None = None,
    warehouse_dir: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``warehouse_dir`` backs managed tables for the snapshot-replace catalog
    (reference S4 semantics, SURVEY.md §2.1).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in STATIC_CONFS.items():
        builder = builder.config(k, v)
    # Local-mode default: two shuffle partitions per core; AQE coalesces
    # below this at runtime, so oversizing is cheap. At big synthetic SFs
    # the engine auto-raises this from the sf_dir's on-disk table bytes
    # (sources.tables.autosize_shuffle_partitions — the round-6 sf100 OOM
    # class, fixed structurally).
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(int(cpus) * 2)
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    if extra_confs:
        for k, v in extra_confs.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return tune(spark)
