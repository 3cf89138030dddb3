"""Versioned table snapshots with time travel (Nessie/Iceberg analog).

The reference gets snapshot history for free from Nessie commits on Iceberg
tables (SURVEY.md §4 "snapshot isolation / atomic table swap"); the built-in
session catalog's overwrite loses history. This module provides the minimal
versioned-store semantics on plain parquet so the engine keeps time travel
without the Iceberg runtime jar:

- every write lands in an immutable, UNIQUELY-NAMED ``v=<n>-<uuid>``
  directory (never rewritten, never re-used): a writer that crashes after
  staging but before committing leaves an orphan directory that can never
  collide with a later attempt at the same version number, so one crash
  cannot wedge all future publishes;
- a version is COMMITTED by writing a one-row manifest parquet under
  ``_manifests/`` naming (version, path) — readers resolve versions ONLY
  through manifests, so a half-written data directory is invisible
  (write-then-commit, the same protocol Iceberg's metadata pointer swap
  relies on);
- time travel = read the path the given (or the max) version's manifest
  records. If two racing writers ever commit the same version number, the
  lexicographically smallest path wins deterministically on every read.

With the Iceberg jar present, ``sources/connectors.py`` swaps in real
``VERSION AS OF`` reads; the API here is shaped to match.

Scale notes: version directories are plain partition-pruned parquet reads
whose inferred schema is cached (``tables.read_parquet``). Manifests are
tiny single-row files read on the driver with pyarrow, so listing versions
or resolving a path reads KBs and launches no Spark job (a Spark read of
``_manifests/`` cost 2 jobs per call). Writers never mutate existing files
=> concurrent readers at any version are consistent without locks.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from .tables import read_parquet


def _manifest_dir(base: str, table: str) -> str:
    return os.path.join(base, table, "_manifests")


def _data_dir(base: str, table: str, version: int) -> str:
    """Fresh staging directory for ``version`` — unique per call, so a
    crashed or concurrent writer can never block a later claim of the same
    version number with a path-already-exists error."""
    return os.path.join(base, table, f"v={version}-{uuid.uuid4().hex[:12]}")


def _manifest_rows(base: str, table: str) -> list[tuple[int, str]]:
    """Every committed (version, path) row, read on the driver from the
    manifest footers and pages (KBs, no Spark job). Spark's ``_SUCCESS``,
    ``.crc`` and ``_temporary`` entries are skipped, as Spark's own reader
    skips them; a missing directory means no versions."""
    import pyarrow.parquet as pq

    mdir = _manifest_dir(base, table)
    try:
        names = sorted(os.listdir(mdir))
    except OSError:
        return []
    rows = []
    for fn in names:
        if fn.startswith(("_", ".")) or not fn.endswith(".parquet"):
            continue
        try:
            t = pq.read_table(os.path.join(mdir, fn), columns=["version", "path"])
        except FileNotFoundError:
            continue  # expired by a concurrent expire_snapshots
        rows += zip(t["version"].to_pylist(), t["path"].to_pylist())
    return rows


def _version_paths(base: str, table: str) -> dict[int, str]:
    """version -> data path, from one manifest read. If racing writers
    committed the same version, the smallest path wins, deterministically."""
    paths: dict[int, str] = {}
    for version, path in _manifest_rows(base, table):
        v = int(version)
        if v not in paths or path < paths[v]:
            paths[v] = path
    return paths


def snapshot_versions(spark: SparkSession, base: str, table: str) -> list[int]:
    """Committed versions, ascending (empty if the table doesn't exist)."""
    return sorted(_version_paths(base, table))


def _resolve_path(spark: SparkSession, base: str, table: str, version: int) -> str:
    """The data path a committed version's manifest names."""
    path = _version_paths(base, table).get(version)
    if path is None:
        raise ValueError(f"version {version} has no manifest for {table!r}")
    return path


def commit_version(
    spark: SparkSession, base: str, table: str, version: int, path: str
) -> None:
    """Publish ``path`` as ``version``: one manifest row, O(1)."""
    manifest = spark.createDataFrame([(version, path)], "version int, path string")
    manifest.coalesce(1).write.mode("append").parquet(_manifest_dir(base, table))


def write_snapshot(df: DataFrame, base: str, table: str) -> int:
    """Write ``df`` as the next version and commit it; returns the version.

    Data first, manifest second: the version exists only once its manifest
    row is readable.
    """
    spark = df.sparkSession
    versions = snapshot_versions(spark, base, table)
    version = (versions[-1] + 1) if versions else 1
    staged = _data_dir(base, table, version)
    df.write.mode("errorifexists").parquet(staged)
    commit_version(spark, base, table, version, staged)
    return version


def read_snapshot(
    spark: SparkSession, base: str, table: str, version: int | None = None
) -> DataFrame:
    """Time-travel read: ``version`` (or the latest committed one)."""
    paths = _version_paths(base, table)
    if not paths:
        raise ValueError(f"no committed snapshots for {table!r} under {base!r}")
    if version is None:
        version = max(paths)
    if version not in paths:
        raise ValueError(f"version {version} not in {sorted(paths)} for {table!r}")
    return read_parquet(spark, paths[version])
