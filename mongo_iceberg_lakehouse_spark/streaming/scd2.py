"""Streaming SCD2 dimension maintenance (CDC changelog -> validity intervals).

Incremental form of ``operators.relational.scd2_from_changelog``: change rows
arrive in micro-batches (possibly out of order across batches), and the SCD2
dimension table must stay equal to what a full batch rebuild over the entire
changelog would produce — that equality is the correctness contract, and it
is what lets the driver check this streaming pipeline against a plain SQL
oracle.

Design (foreachBatch):

- State is two tables: the append-only **changelog** (every change row ever
  seen — the CDC retention log any real pipeline keeps anyway) and the
  maintained **dimension** (current SCD2 intervals), versioned per batch.
- Per micro-batch: append the new rows to the log; collect the batch's
  **touched keys** (small — broadcast); rebuild intervals ONLY for touched
  keys from the log restricted to those keys (equi-join prunes the scan);
  new dim = untouched old rows (left_anti on touched) ∪ rebuilt rows.
- Rebuilding touched keys from their full history (not just their current
  intervals) is what makes out-of-order arrival exact: a late row can split
  a run and resurrect a previously-collapsed duplicate as a new version
  boundary, which no boundary-only state can reproduce.

At warehouse scale the dim rewrite is a MERGE / replace-where touching only
the touched keys' files (Iceberg/Delta); the parquet emulation writes a new
dim version per batch, same semantics. Per-batch cost scales with
|touched keys' history|, not |dimension|.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructType, TimestampType

from ..operators.relational import scd2_from_changelog

from .events import run_available_now, write_batch_files


def _latest_dim(store_dir: str) -> str | None:
    ptr = os.path.join(store_dir, "LATEST")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        return os.path.join(store_dir, fh.read().strip())


def apply_scd2_batch(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    key: str,
    attr: str,
    ts_col: str,
    tiebreak: str,
    batch_id: int,
) -> None:
    """One incremental SCD2 step (see module doc)."""
    log_dir = os.path.join(store_dir, "changelog")
    cols = [key, attr, ts_col, tiebreak]
    batch.select(*cols).write.mode("append").parquet(log_dir)

    touched = batch.select(key).distinct()
    log = spark.read.parquet(log_dir)
    rebuilt = scd2_from_changelog(
        log.join(F.broadcast(touched), on=key), key, attr, ts_col, tiebreak
    )

    prev = _latest_dim(store_dir)
    if prev is not None:
        old = spark.read.parquet(prev)
        untouched = old.join(F.broadcast(touched), on=key, how="left_anti")
        new_dim = untouched.unionByName(rebuilt)
    else:
        new_dim = rebuilt

    out = os.path.join(store_dir, f"dim_v{batch_id:06d}")
    new_dim.write.mode("overwrite").parquet(out)
    with open(os.path.join(store_dir, "LATEST"), "w") as fh:
        fh.write(f"dim_v{batch_id:06d}")


def run_scd2_stream_available_now(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 3,
    in_order: bool = True,
) -> DataFrame:
    """Stream the orders changelog (customer -> order priority) through the
    incremental SCD2 maintainer, one file per micro-batch, and return the
    final dimension (eagerly checkpointed: the scratch root is removed
    before return). ``in_order=False`` splits batches by hash instead of by
    date, exercising the out-of-order exactness claim."""
    from ..sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
    )
    if in_order:
        # test-setup only: a global ntile to slice the log into date-ordered
        # thirds (single-partition window is fine at fixture scale)
        split = F.ntile(n_batches).over(
            Window.orderBy("o_orderdate", "o_orderkey")
        ) - 1
        batched = orders.withColumn("b", split)
    else:
        batched = orders.withColumn(
            "b", F.pmod(F.xxhash64("o_orderkey"), F.lit(n_batches))
        )
    # the stream reads the declared columns only, so the batch column in
    # the files stays out of the changelog
    schema = (
        StructType()
        .add("o_custkey", LongType())
        .add("o_orderpriority", StringType())
        .add("o_orderdate", TimestampType())
        .add("o_orderkey", LongType())
    )
    with tempfile.TemporaryDirectory(
        prefix="scd2_stream_", ignore_cleanup_errors=True
    ) as root:
        in_dir = write_batch_files(batched, "b", n_batches, root)
        store_dir = os.path.join(root, "store")
        os.makedirs(store_dir)

        def process(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            apply_scd2_batch(
                spark, batch_df, store_dir,
                key="o_custkey", attr="o_orderpriority",
                ts_col="o_orderdate", tiebreak="o_orderkey",
                batch_id=batch_id,
            )

        run_available_now(
            spark,
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(in_dir)
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", os.path.join(root, "ckpt")),
        )
        latest = _latest_dim(store_dir)
        assert latest is not None, "stream produced no batches"
        # eager: the scratch root is removed before return
        return spark.read.parquet(latest).localCheckpoint(eager=True)
