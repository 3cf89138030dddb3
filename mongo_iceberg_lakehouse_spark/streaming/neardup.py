"""Streaming incremental near-duplicate filtering (MinHash-LSH).

The batch near-dup operators (operators.dedup) answer "which documents in
this corpus duplicate each other". A training-data ingest pipeline needs the
incremental form: micro-batches of new documents arrive continuously, and
each batch must be deduplicated (a) within itself and (b) against everything
already accepted — without ever rescanning the accepted corpus text.

Design (foreachBatch over a file-source stream):

- The accumulated state is a **signature store**, not the corpus: one row per
  accepted doc with its 64-slot MinHash signature, plus the exploded
  (band, band_hash) key table. Parquet, append-only — at cluster scale this
  is the same layout on object storage, and the band table is what a real
  deployment would Z-order/bucket by (band, band_hash).
- Per micro-batch: compute signatures for the new docs (narrow map);
  candidates against the store via an equi-join on (band, band_hash) —
  touching only colliding keys, never the full store; verify candidates by
  signature agreement (the MinHash estimate of Jaccard — the store keeps no
  shingles, so verification is estimate-based by design; the estimator's
  stderr is ~1/sqrt(64) ≈ 0.125); within-batch dups via the exact
  ``minhash_lsh_pairs`` on the batch itself (min-id survives).
- Survivors' signatures and band keys are appended to the store; the
  decision log (doc_id, batch, survived) is appended to the output sink.

Determinism: batch membership is a pure function of doc_id, batch files are
processed in file order (maxFilesPerTrigger=1), and every per-batch decision
depends only on the batch content + prior store — so the final survivor set
is stable run-to-run, which is what makes the rows-only driver check
meaningful.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.dedup import (
    band_hashes,
    hashed_shingles,
    minhash_lsh_pairs,
    minhash_signature,
    shingle_hashes,
)
from .events import run_available_now, write_batch_files

BATCH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("batch", LongType()),
    ]
)


def _signatures(
    docs: DataFrame, num_hashes: int, shingle_n: int
) -> DataFrame:
    """(doc_id, sig) — shingle hashing materialized in its own projection so
    the 64-slot signature doesn't re-inline it (re-inlining trap)."""
    return (
        docs.select(
            "doc_id", hashed_shingles(F.col("text"), shingle_n).alias("sh")
        )
        .withColumn("bh", shingle_hashes(F.col("sh")))
        .select("doc_id", minhash_signature(F.col("bh"), num_hashes).alias("sig"))
    )


def _sig_agreement(a: Column, b: Column) -> Column:
    """Fraction of equal signature slots — the MinHash Jaccard estimate."""
    eq = F.zip_with(a, b, lambda x, y: (x == y).cast("int"))
    return F.aggregate(eq, F.lit(0), lambda acc, x: acc + x).cast("double") / F.size(a)


def dedup_batch_against_store(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 2,
    jaccard_threshold: float = 0.2,
) -> DataFrame:
    """One incremental step: returns the batch's decision log
    (doc_id, batch, survived) and appends survivors to the signature store.

    The store join shuffles only (doc_id, band, band_hash) triples and the
    candidate verification joins signatures for the (small) colliding set —
    the full store is never scanned as text, and the band join prunes to
    matching hash partitions.
    """
    sig_dir = os.path.join(store_dir, "sigs")
    band_dir = os.path.join(store_dir, "bands")

    # shared by the band join, the store verify and the survivor append
    sigs = _signatures(batch, num_hashes, shingle_n).localCheckpoint(eager=False)
    # posexplode_outer: plain explode's inferred size()>0 filter would
    # re-evaluate band_hashes per row (always `bands` elements, so outer
    # semantics are identical)
    banded = sigs.select(
        "doc_id",
        F.posexplode_outer(band_hashes(F.col("sig"), num_hashes, bands)).alias(
            "band", "bh"
        ),
    )

    # (a) duplicates of already-accepted docs: band-key equi-join + estimate
    try:
        store_bands = spark.read.parquet(band_dir)
        store_sigs = spark.read.parquet(sig_dir)
        cand = (
            banded.join(
                store_bands.select(
                    F.col("doc_id").alias("store_id"), "band", "bh"
                ),
                on=["band", "bh"],
            )
            .select("doc_id", "store_id")
            .dropDuplicates(["doc_id", "store_id"])
        )
        store_dups = (
            cand.join(sigs, on="doc_id")
            .join(
                store_sigs.select(
                    F.col("doc_id").alias("store_id"),
                    F.col("sig").alias("store_sig"),
                ),
                on="store_id",
            )
            .filter(_sig_agreement(F.col("sig"), F.col("store_sig")) >= jaccard_threshold)
            .select("doc_id")
            .distinct()
        )
    except Exception:  # first batch: no store yet
        store_dups = spark.createDataFrame([], "doc_id long")

    # (b) duplicates inside the batch: exact-verified pairs, min-id survives
    within = minhash_lsh_pairs(
        batch, "doc_id", "text",
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        jaccard_threshold=jaccard_threshold,
    ).select(F.col("id_b").alias("doc_id")).distinct()

    dups = store_dups.unionByName(within).distinct()
    decisions = (
        batch.select("doc_id", "batch")
        .join(dups.withColumn("__dup", F.lit(True)), on="doc_id", how="left")
        .select(
            "doc_id", "batch",
            F.coalesce(~F.col("__dup"), F.lit(True)).alias("survived"),
        )
        # eager: decided BEFORE the store append below mutates state
        .localCheckpoint(eager=True)
    )

    survivor_sigs = sigs.join(
        decisions.filter("survived").select("doc_id"), on="doc_id"
    )
    survivor_sigs.write.mode("append").parquet(sig_dir)
    survivor_sigs.select(
        "doc_id",
        F.posexplode_outer(band_hashes(F.col("sig"), num_hashes, bands)).alias(
            "band", "bh"
        ),
    ).write.mode("append").parquet(band_dir)
    return decisions


def run_incremental_neardup_available_now(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 4,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 2,
    jaccard_threshold: float = 0.2,
) -> DataFrame:
    """Drive the incremental dedup as a real Structured Streaming query:
    the documents fixture is split into ``n_batches`` files, streamed one
    file per micro-batch (availableNow), each foreachBatch invocation runs
    ``dedup_batch_against_store``. Returns the full decision log (eagerly
    checkpointed: the scratch root is removed before return)."""
    from ..sources.tables import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", F.pmod("doc_id", F.lit(n_batches)).alias("batch"))
    )
    with tempfile.TemporaryDirectory(
        prefix="neardup_stream_", ignore_cleanup_errors=True
    ) as root:
        in_dir = write_batch_files(docs, "batch", n_batches, root)
        store_dir = os.path.join(root, "store")
        out_dir = os.path.join(root, "decisions")

        def process(batch_df: DataFrame, _batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            dedup_batch_against_store(
                spark, batch_df, store_dir,
                num_hashes=num_hashes, bands=bands,
                shingle_n=shingle_n, jaccard_threshold=jaccard_threshold,
            ).write.mode("append").parquet(out_dir)

        run_available_now(
            spark,
            spark.readStream.schema(BATCH_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(in_dir)
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", os.path.join(root, "ckpt")),
        )
        # eager: the scratch root is removed before return
        return spark.read.parquet(out_dir).localCheckpoint(eager=True)
