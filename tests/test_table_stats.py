"""Round-6 (verdict item 6): cached parquet-footer row-count statistic.

SemDeDup / IVF / blocked-ANN auto-sizing paid an extra columnless count()
Spark job per query to pick k / num_blocks. The statistic now comes from
parquet footer metadata (driver-side, cached per (sf_dir, table)), so
building those queries launches ZERO Spark jobs — sizing is free at any
scale, and at cluster scale the same number comes from the table format's
manifest.
"""

from __future__ import annotations

from mongo_iceberg_lakehouse_spark.queries import REGISTRY
from mongo_iceberg_lakehouse_spark.sources.tables import (
    _ROWCOUNT_CACHE,
    table_rowcount,
)

SF = "/root/testdata/sf0.001"


def test_table_rowcount_matches_spark_count(spark):
    for t in ("embeddings", "documents", "orders"):
        assert table_rowcount(SF, t) == spark.read.parquet(
            f"{SF}/{t}.parquet"
        ).count()


def test_table_rowcount_handles_spark_written_dirs(spark, tmp_path):
    p = str(tmp_path / "sf")
    spark.range(1234).repartition(4).write.parquet(p + "/documents.parquet")
    assert table_rowcount(p, "documents") == 1234


def test_table_rowcount_is_cached(spark):
    table_rowcount(SF, "embeddings")
    assert (SF, "embeddings") in _ROWCOUNT_CACHE


def test_sizing_runs_no_count_job(spark, monkeypatch):
    # The precise pin: building each auto-sized query plan must never
    # call DataFrame.count() (the old sizing job). The IVF's bounded
    # centroid-sample collect is a legitimate build-time action and does
    # not go through count; parquet schema inference is a build-time job
    # only on a table's first read (sources.tables.read_parquet caches it).
    from pyspark.sql import DataFrame

    def boom(self):
        raise AssertionError("sizing count() job during query build")

    monkeypatch.setattr(DataFrame, "count", boom)
    for name in (
        "semdedup_embedding_prune",
        "embedding_neardup_blocked",
        "embedding_neardup_topk",
        "embedding_neardup_topk_ivf",
        "neardup_ivf_recall_contract",
        "sample_cluster_balanced",
        "quality_repetition_signals",
        "dedup_survivors_quality",
    ):
        REGISTRY[name].fn(spark, SF)


def test_autosize_shuffle_partitions_only_raises(spark, monkeypatch):
    # Round-7: shuffle partitions derive from the sf_dir's on-disk bytes
    # (round-6 sf100 OOM class, fixed structurally). Only-raise, capped,
    # once per dir.
    from mongo_iceberg_lakehouse_spark.sources import tables as T

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # driver-scale dir: need << current -> unchanged
        T._AUTOSIZED_DIRS.discard("/root/testdata/sf0.001")
        T.autosize_shuffle_partitions(spark, "/root/testdata/sf0.001")
        assert spark.conf.get("spark.sql.shuffle.partitions") == before

        # a dir whose largest table is ~17 GB -> ~531 partitions
        T._AUTOSIZED_DIRS.discard("/fake/sf100")
        monkeypatch.setattr(T, "table_bytes", lambda d, t: 17 << 30)
        T.autosize_shuffle_partitions(spark, "/fake/sf100")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "544"

        # second call for the same dir is a no-op even if stats change
        monkeypatch.setattr(T, "table_bytes", lambda d, t: 1 << 60)
        T.autosize_shuffle_partitions(spark, "/fake/sf100")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "544"

        # cap at 2048
        T._AUTOSIZED_DIRS.discard("/fake/sf1000")
        T.autosize_shuffle_partitions(spark, "/fake/sf1000")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2048"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        T._AUTOSIZED_DIRS.difference_update({"/fake/sf100", "/fake/sf1000"})
