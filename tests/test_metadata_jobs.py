"""Metadata reads launch no Spark jobs.

Parquet schema inference reads a footer through a Spark job, and a Spark
read of the snapshot store's ``_manifests/`` cost 2 jobs per call. Repeat
reads now reuse the inferred schema (``sources.tables.read_parquet``) and
manifests are read on the driver with pyarrow, so building a plain query
and resolving a snapshot version are job-free.
"""

from __future__ import annotations

import os
import sys
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql.types import LongType, TimestampType

from mongo_iceberg_lakehouse_spark.queries import REGISTRY
from mongo_iceberg_lakehouse_spark.sources.maintenance import (
    compact_snapshot,
    expire_snapshots,
    remove_orphan_files,
)
from mongo_iceberg_lakehouse_spark.sources.snapshots import (
    _manifest_dir,
    _manifest_rows,
    _resolve_path,
    commit_version,
    read_snapshot,
    snapshot_versions,
    write_snapshot,
)
from mongo_iceberg_lakehouse_spark.sources.tables import (
    load_events,
    load_table,
    read_parquet,
)

from .conftest import SF_SMOKE as SF


def _jobs_during(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launches on this thread."""
    sc = spark.sparkContext
    group = f"metadata-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "name",
    [
        "tpch_q1_pricing_summary",
        "tpch_q3_shipping_priority",
        "join_broadcast_region_revenue",
        "dq_orders_report",
    ],
)
def test_warm_query_build_launches_no_jobs(spark, name):
    fn = REGISTRY[name].fn
    fn(spark, SF)  # first call infers and caches each table's schema
    assert _jobs_during(spark, lambda: fn(spark, SF)) == 0


def test_self_join_of_a_cached_table_is_unambiguous(spark):
    a = load_table(spark, SF, "orders")
    b = load_table(spark, SF, "orders")
    joined = a.join(b, a.o_orderkey == b.o_orderkey).select(a.o_orderkey)
    assert joined.count() == a.count()


def test_snapshot_metadata_launches_no_jobs(spark, tmp_path):
    store = str(tmp_path / "store")
    for n in (10, 20):
        write_snapshot(spark.range(n), store, "t")
    read_snapshot(spark, store, "t", 1)  # caches the version's schema
    assert _jobs_during(spark, lambda: snapshot_versions(spark, store, "t")) == 0
    assert _jobs_during(spark, lambda: read_snapshot(spark, store, "t", 1)) == 0
    assert read_snapshot(spark, store, "t", 1).count() == 10


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    time.sleep(0.01)  # a distinct mtime even on coarse-clock filesystems
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["b", "c"]
    assert df.collect()[0]["b"] == "x"


def test_nanos_as_long_flip_changes_inferred_ts(spark, tmp_path):
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    path = f"{sf}/events.parquet"
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(pa.table({"ts": pa.array(ns, pa.timestamp("ns"))}), path)
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        ev = load_events(spark, sf)
        assert isinstance(ev.schema["ts"].dataType, TimestampType)
        assert isinstance(read_parquet(spark, path).schema["ts"].dataType, LongType)
        spark.conf.set(conf, "false")
        # the cached LongType must not be served under the flipped conf:
        # Spark's own inference rejects TIMESTAMP(NANOS) without it
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path)
    finally:
        spark.conf.set(conf, "true")
    assert isinstance(read_parquet(spark, path).schema["ts"].dataType, LongType)


def test_manifest_reader_missing_dir_is_empty(spark, tmp_path):
    store = str(tmp_path / "none")
    assert _manifest_rows(store, "t") == []
    assert snapshot_versions(spark, store, "t") == []
    with pytest.raises(ValueError):
        read_snapshot(spark, store, "t")


def test_manifest_reader_skips_spark_side_files(spark, tmp_path):
    store = str(tmp_path / "store")
    write_snapshot(spark.range(5), store, "t")
    names = os.listdir(_manifest_dir(store, "t"))
    assert "_SUCCESS" in names
    assert any(n.endswith(".crc") for n in names)
    assert [v for v, _p in _manifest_rows(store, "t")] == [1]
    assert snapshot_versions(spark, store, "t") == [1]


def test_duplicate_version_race_smallest_path_wins(spark, tmp_path):
    store = str(tmp_path / "store")
    a = os.path.join(store, "t", "v=1-aaaa")
    b = os.path.join(store, "t", "v=1-bbbb")
    spark.range(3).write.parquet(b)
    spark.range(7).write.parquet(a)
    commit_version(spark, store, "t", 1, b)
    commit_version(spark, store, "t", 1, a)
    assert snapshot_versions(spark, store, "t") == [1]
    assert _resolve_path(spark, store, "t", 1) == a
    assert read_snapshot(spark, store, "t").count() == 7
    stats = compact_snapshot(spark, store, "t", target_bytes=None)
    assert stats["src_version"] == 1
    assert read_snapshot(spark, store, "t", 2).count() == 7
    # the losing path is referenced by no resolved version: an orphan
    assert remove_orphan_files(spark, store, "t")["orphans_removed"] == 1
    assert not os.path.exists(b)
    assert expire_snapshots(spark, store, "t", keep_last=1)["expired"] == [1]
    assert snapshot_versions(spark, store, "t") == [2]


def test_concurrent_reads_share_the_schema_cache(spark):
    names = ("orders", "customer", "lineitem", "events")
    want = {n: load_table(spark, SF, n).schema for n in names}
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            futs = [
                pool.submit(lambda n=n: (n, load_table(spark, SF, n).schema))
                for n in names * 10
            ]
            got = [f.result(timeout=120) for f in futs]
    finally:
        sys.setswitchinterval(prev)
    assert all(schema == want[n] for n, schema in got)
