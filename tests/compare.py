"""Order-insensitive DataFrame-vs-oracle comparison, mirroring the driver's
check (row count + columns sorted by name + normalized values)."""

from __future__ import annotations

import datetime as _dt
import math

import duckdb

from mongo_iceberg_lakehouse_spark.sources.tables import FIXTURE_TABLES

_FLOAT_SIG = ".6g"  # doubles normalized to 6 significant digits


def _norm(v) -> str:
    import decimal

    if isinstance(v, (list, tuple, dict, set, bytes, bytearray)) or (
        type(v).__module__ == "numpy" and type(v).__name__ == "ndarray"
    ):
        # The driver's pandas canonicalization crashes on array/map/struct/
        # binary cells (round-6 red row: rag_context_assembly). Stringifying
        # here would hide exactly that hazard, so the local replica must be
        # STRICTER than the driver: reject outright.
        raise TypeError(
            f"non-scalar output cell of type {type(v).__name__!r}: registry "
            "queries must emit scalar-only final schemas (array_join / "
            "to_json the column before returning)"
        )
    if isinstance(v, decimal.Decimal):
        # Round-7 red row (timeseries_gapfill_locf): DECIMAL finals hash-
        # mismatch under the driver — Spark's sum→DECIMAL(28,2) and DuckDB's
        # sum→DECIMAL(38,2)/HUGEINT path canonicalize differently in pandas
        # even when values are equal. str()-comparing here would pass locally
        # and fail at the driver, so reject outright: compute exact in
        # decimal, CAST the final projection to DOUBLE on both sides.
        raise TypeError(
            "DECIMAL output cell: registry queries must CAST decimal finals "
            "to DOUBLE (driver canonicalization renders Spark vs DuckDB "
            "decimals differently)"
        )
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return format(v, _FLOAT_SIG)
    if isinstance(v, _dt.datetime):
        # the Arrow collect path yields tz-AWARE datetimes (session tz)
        # where .collect() and DuckDB yield naive ones at the same wall
        # time — strip the tz so both render identically
        if v.tzinfo is not None:
            v = v.replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return str(v)


def assert_scalar_schema(spark_df, name: str = "") -> None:
    """Registry output contract: final schemas are scalar-only. The driver
    canonicalizes results with pandas ``sort_values``, which raises
    ``TypeError: unhashable type`` on array/map/struct cells and cannot
    byte-compare binary against DuckDB — so Array/Map/Struct/Binary columns
    are banned from every final output (render them with ``F.array_join`` /
    ``F.to_json`` / hex instead). DecimalType is also banned (round-7 red
    row): Spark and DuckDB decimal sums canonicalize differently under the
    driver's pandas rendering — compute exact internally, CAST the final to
    DOUBLE on both sides. Final schemas are restricted to the driver-proven
    scalar set: string/int/bigint/double/float/boolean/date/timestamp.
    Plan-only check: no job runs."""
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        DecimalType,
        MapType,
        StructType,
    )

    bad = [
        f.name
        for f in spark_df.schema.fields
        if isinstance(
            f.dataType,
            (ArrayType, MapType, StructType, BinaryType, DecimalType),
        )
    ]
    assert not bad, (
        f"{name or 'query'}: non-scalar/decimal output column(s) {bad} — the "
        "driver canonicalization crashes on arrays and renders decimals "
        "inconsistently; join/stringify/CAST-to-DOUBLE before returning"
    )


def normalized_rows(columns: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def _collect_tuples(spark_df) -> list[tuple]:
    """Collect as Arrow and convert to python-native tuples: row-identical
    to .collect() for every type the registry emits (scalar-only final
    schemas by contract — _norm rejects anything else), but ~10x faster
    to materialize. The round-5 sf10 gate was compare-bound on 12-15M-row
    outputs (py4j row-by-row materialization), not engine-bound."""
    try:
        batches = spark_df._collect_as_arrow()
        import pyarrow as pa

        if not batches:
            return []
        tbl = pa.Table.from_batches(batches)
        cols = [c.to_pylist() for c in tbl.columns]
        return list(zip(*cols)) if cols else []
    except Exception:  # pragma: no cover — arrow path unavailable
        return [tuple(r) for r in spark_df.collect()]


def compare_rows_duckdb(
    scols: list[str], srows: list[tuple], duck_con, oracle_sql: str
) -> tuple[bool, str]:
    """Oracle half of the compare, over ALREADY-COLLECTED engine rows.
    Split out so gate runners can stop the Spark JVM between the engine
    collect and the DuckDB oracle: at sf100 a single query's shuffle
    blocks (tens of GB) otherwise sit on the same disk the oracle's
    out-of-core spill needs — the round-8 within-query ENOSPC, one layer
    under round 7's cross-query accumulation."""
    cur = duck_con.execute(oracle_sql)
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    if sorted(scols) != sorted(dcols):
        return False, f"column mismatch: spark={sorted(scols)} duck={sorted(dcols)}"
    if len(srows) != len(drows):
        return False, f"row count mismatch: spark={len(srows)} duck={len(drows)}"
    sn = normalized_rows(scols, srows)
    dn = normalized_rows(dcols, drows)
    if sn != dn:
        diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:5]
        return False, f"value mismatch, first diffs: {diffs}"
    return True, "ok"


def compare_spark_duckdb(spark_df, duck_con, oracle_sql: str) -> tuple[bool, str]:
    return compare_rows_duckdb(
        spark_df.columns, _collect_tuples(spark_df), duck_con, oracle_sql
    )


def duck_views(sf_dir: str, tables=FIXTURE_TABLES):
    """A fresh DuckDB connection with one ``read_parquet`` view per table of
    the scale dir — the oracles' view of the fixture."""
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con
