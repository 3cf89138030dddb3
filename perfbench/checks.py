"""Output checks: Spark results against the package's DuckDB oracles, and an
order-insensitive fingerprint for queries that have no oracle.

Normalization follows the repository's oracle comparison: columns are
matched by name, rows are compared as a sorted multiset, doubles are
rendered to 6 significant digits and NaN equals NULL."""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else format(v, ".6g")
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def normalized(columns: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def fingerprint(columns: list[str], rows: list[tuple]) -> str:
    """Row-order-insensitive sha256 of the normalized rows."""
    h = hashlib.sha256()
    for row in normalized(columns, rows):
        h.update("\x1f".join(row).encode() + b"\x1e")
    return h.hexdigest()


def arrow_rows(table) -> tuple[list[str], list[tuple]]:
    cols = [c.to_pylist() for c in table.columns]
    return table.column_names, list(zip(*cols)) if cols else []


class Oracle:
    """DuckDB over the same parquet files the engine reads."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def compare(self, columns: list[str], rows: list[tuple], sql: str) -> str | None:
        """None when the rows match the oracle, else the first difference."""
        cur = self.con.execute(sql)
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()
        if sorted(columns) != sorted(dcols):
            return f"columns {sorted(columns)} != {sorted(dcols)}"
        if len(rows) != len(drows):
            return f"{len(rows)} rows != oracle {len(drows)}"
        a, b = normalized(columns, rows), normalized(dcols, drows)
        if a != b:
            return f"first diff {next((x, y) for x, y in zip(a, b) if x != y)}"
        return None

    def close(self) -> None:
        self.con.close()
