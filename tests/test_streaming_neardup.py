"""Incremental streaming near-dup: cross-batch and within-batch planted dups."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from mongo_iceberg_lakehouse_spark.streaming.neardup import (
    dedup_batch_against_store,
    run_incremental_neardup_available_now,
)

DOC = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill in the afternoon sun"
)
DOC_NEAR = DOC.replace("afternoon", "evening")
OTHER = "completely different content about spark query engines and lakehouse tables"
THIRD = "a third unrelated text mentioning mongodb iceberg pipelines and airflow dags"


def _batch(spark, rows, batch_no):
    return spark.createDataFrame(
        [(i, t, batch_no) for i, t in rows], ["doc_id", "text", "batch"]
    )


def test_incremental_dedup_across_batches(spark, tmp_path):
    store = str(tmp_path)
    # batch 0: DOC and OTHER — within-batch dup (ids 1,2 same text) drops 2
    d0 = dedup_batch_against_store(
        spark,
        _batch(spark, [(1, DOC), (2, DOC), (3, OTHER)], 0),
        store,
        jaccard_threshold=0.8,
    )
    got0 = {r["doc_id"]: r["survived"] for r in d0.collect()}
    assert got0 == {1: True, 2: False, 3: True}

    # batch 1: near-copy of DOC is caught against the STORE; THIRD survives
    d1 = dedup_batch_against_store(
        spark,
        _batch(spark, [(10, DOC_NEAR), (11, THIRD)], 1),
        store,
        jaccard_threshold=0.8,
    )
    got1 = {r["doc_id"]: r["survived"] for r in d1.collect()}
    assert got1 == {10: False, 11: True}

    # store holds exactly the survivors' signatures
    ids = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(store, "sigs")).collect()
    }
    assert ids == {1, 3, 11}


def test_streaming_driver_runs_and_is_stable(spark):
    out = run_incremental_neardup_available_now(
        spark, "/root/testdata/sf0.001", n_batches=3
    )
    total = out.count()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert total == docs.count()  # every doc got a decision
    survived = out.filter("survived").count()
    assert 0 < survived <= total
    # survivors are closed under the decision log: no doc appears twice
    assert out.select("doc_id").distinct().count() == total
