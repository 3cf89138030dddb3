"""Local replica of the driver's DuckDB-oracle check at sf0.001.

Every REGISTRY query with an oracle must hash-match; rows-only queries must
run and return a stable schema.
"""

from __future__ import annotations

import pytest

from mongo_iceberg_lakehouse_spark.queries import REGISTRY

from .compare import assert_scalar_schema, compare_spark_duckdb, duck_views
from .conftest import SF_SMOKE

ORACLE_NAMES = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY_NAMES = sorted(n for n, q in REGISTRY.items() if q.oracle is None)


@pytest.fixture(scope="module")
def duck():
    con = duck_views(SF_SMOKE)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_match(spark, duck, name):
    q = REGISTRY[name]
    df = q.fn(spark, SF_SMOKE)
    assert_scalar_schema(df, name)
    ok, msg = compare_spark_duckdb(df, duck, q.oracle)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_runs(spark, name):
    q = REGISTRY[name]
    df = q.fn(spark, SF_SMOKE)
    assert_scalar_schema(df, name)
    n = df.count()
    assert n >= 0
    assert len(df.columns) > 0
