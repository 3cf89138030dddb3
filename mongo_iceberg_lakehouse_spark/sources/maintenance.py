"""Table maintenance for the versioned snapshot store: small-file
compaction and snapshot expiry (Iceberg ``rewrite_data_files`` /
``expire_snapshots`` analogs, same spirit as Delta OPTIMIZE/VACUUM).

Why these are first-class at 100 TB: streaming and incremental writers
land thousands of small files per partition (each micro-batch commit is
its own file set); scan cost then becomes files-opened, not bytes-read,
and the NameNode/object-store listing itself throttles queries.
Compaction rewrites a snapshot's data into ~target-size files as a NEW
committed version — readers at old versions stay consistent (files are
immutable), readers at latest see identical rows in fewer files. Expiry
then reclaims the space of versions nobody should time-travel to anymore.

Design notes:
- Compaction is a pure read->``coalesce(n)``->write: ``coalesce`` merges
  partitions WITHOUT a shuffle (narrow dependency), so compacting N GB
  costs one read + one write, never an exchange. The file target comes
  from the version directory's on-disk bytes (filesystem stat, no Spark
  job — the same statistic discipline as sources.tables.table_bytes).
- Compaction commits through the standard write-then-manifest protocol
  (sources.snapshots), so it is itself a snapshot: crash-safe, atomic to
  readers, and visible in the version history like any other write.
- Expiry deletes the expired versions' one-row manifest files first and
  their data directories second: a reader racing the delete either still
  resolves the old manifest (data still present — delete order) or no
  longer sees the version at all; it can never resolve a manifest whose
  data is gone. Iceberg's expire_snapshots makes the same
  metadata-then-data ordering guarantee.

Reference: spark_jobs/mongo_to_iceberg.py:140 writes Iceberg tables whose
real deployments run exactly this maintenance pair on a schedule.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

from .snapshots import (
    _data_dir,
    _manifest_dir,
    _version_paths,
    commit_version,
    snapshot_versions,
)
from .tables import _parquet_files, read_parquet


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet file count, total bytes) of a version directory — pure
    filesystem stat."""
    files = _parquet_files(path) if os.path.isdir(path) else []
    return len(files), sum(os.path.getsize(f) for f in files)


def compact_snapshot(
    spark: SparkSession,
    base: str,
    table: str,
    target_bytes: int | None = 128 << 20,
    version: int | None = None,
) -> dict:
    """Rewrite ``version`` (default latest) into ~``target_bytes`` files
    and commit the result as the next version. ``target_bytes=None`` means
    "full compaction": the target is derived from the MEASURED directory
    bytes so the result is always exactly one file regardless of input
    scale (a fixed constant silently stops compacting to 1 the moment the
    snapshot outgrows it — the sf100 orders snapshot is ~2 GiB). Returns
    the maintenance facts: files/bytes before and after, the new version
    number."""
    paths = _version_paths(base, table)
    if not paths:
        raise ValueError(f"no committed snapshots for {table!r}")
    src_version = max(paths) if version is None else version
    if src_version not in paths:
        raise ValueError(f"version {src_version} has no manifest for {table!r}")
    src_path = paths[src_version]
    files_before, bytes_before = _dir_stats(src_path)
    if target_bytes is None:
        target_bytes = max(1, bytes_before)
    n_files = max(1, -(-bytes_before // max(1, target_bytes)))  # ceil
    df = read_parquet(spark, src_path).coalesce(int(n_files))

    new_version = max(paths) + 1
    staged = _data_dir(base, table, new_version)
    df.write.mode("errorifexists").parquet(staged)
    commit_version(spark, base, table, new_version, staged)
    files_after, bytes_after = _dir_stats(staged)
    return {
        "src_version": src_version,
        "new_version": new_version,
        "files_before": files_before,
        "files_after": files_after,
        "bytes_before": bytes_before,
        "bytes_after": bytes_after,
    }


def expire_snapshots(
    spark: SparkSession, base: str, table: str, keep_last: int = 2
) -> dict:
    """Drop every version except the newest ``keep_last``: expired
    manifests are deleted FIRST (the version disappears from resolution),
    their data directories second (space reclaim). Returns which versions
    were expired and which remain."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    # resolve data paths BEFORE touching manifests
    paths = _version_paths(base, table)
    versions = sorted(paths)
    expired = versions[:-keep_last]
    if not expired:
        return {"expired": [], "remaining": versions, "bytes_reclaimed": 0}
    expired_set = set(expired)
    mdir = _manifest_dir(base, table)
    import pyarrow.parquet as pq

    for fn in os.listdir(mdir):
        if not fn.endswith(".parquet"):
            continue
        fp = os.path.join(mdir, fn)
        t = pq.read_table(fp, columns=["version"])
        vs = set(t["version"].to_pylist())
        if vs and vs <= expired_set:
            os.remove(fp)
    reclaimed = 0
    for v in expired:
        _n, b = _dir_stats(paths[v])
        reclaimed += b
        shutil.rmtree(paths[v], ignore_errors=True)
    return {
        "expired": expired,
        "remaining": snapshot_versions(spark, base, table),
        "bytes_reclaimed": reclaimed,
    }


def remove_orphan_files(
    spark: SparkSession,
    base: str,
    table: str,
    grace_seconds: float = 0.0,
) -> dict:
    """Iceberg ``remove_orphan_files`` / Delta ``VACUUM`` analog over the
    snapshot store: delete ``v=*`` data directories that NO committed
    manifest references.

    Orphans are a normal byproduct of the write-then-commit protocol this
    store shares with Iceberg: a writer that crashes between staging and
    committing — or a WAP publish whose audit failed before its best-effort
    cleanup could run (plans/wap.py) — leaves a uniquely-named directory
    that readers can never resolve, only waste space. Removal is safe by
    the same protocol that makes the orphan invisible: visibility flows
    exclusively through manifests, so an unreferenced directory has no
    reader to race.

    ``grace_seconds`` protects LIVE writers: a directory younger than the
    grace window may be a stage-in-progress whose commit simply hasn't
    landed yet, so it is kept (Iceberg's ``older_than`` has the same
    contract; production default is hours, tests pass 0). Returns the
    orphan count, bytes reclaimed, and how many referenced directories
    were (all) kept."""
    import time

    tdir = os.path.join(base, table)
    referenced = {os.path.normpath(p) for p in _version_paths(base, table).values()}
    removed = 0
    reclaimed = 0
    now = time.time()
    for entry in sorted(os.listdir(tdir)) if os.path.isdir(tdir) else []:
        p = os.path.join(tdir, entry)
        if not entry.startswith("v=") or not os.path.isdir(p):
            continue  # _manifests/ and any non-snapshot entries
        if os.path.normpath(p) in referenced:
            continue
        if now - os.path.getmtime(p) < grace_seconds:
            continue
        _n, b = _dir_stats(p)
        removed += 1
        reclaimed += b
        shutil.rmtree(p, ignore_errors=True)
    return {
        "orphans_removed": removed,
        "bytes_reclaimed": reclaimed,
        "referenced_kept": len(referenced),
    }
