"""Streaming SCD2 == batch rebuild, for in-order AND out-of-order batches."""

from __future__ import annotations

import pytest

from mongo_iceberg_lakehouse_spark.operators.relational import scd2_from_changelog
from mongo_iceberg_lakehouse_spark.sources.tables import load_table
from mongo_iceberg_lakehouse_spark.streaming.scd2 import (
    run_scd2_stream_available_now,
)

SF = "/root/testdata/sf0.001"
COLS = ["o_custkey", "o_orderpriority", "valid_from", "valid_to", "is_current", "version"]


def _batch_expected(spark):
    orders = load_table(spark, SF, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
    )
    dim = scd2_from_changelog(
        orders, "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
    )
    return {tuple(r) for r in dim.select(*COLS).collect()}


@pytest.mark.parametrize("in_order", [True, False])
def test_streaming_scd2_equals_batch_rebuild(spark, in_order):
    expected = _batch_expected(spark)
    got = run_scd2_stream_available_now(
        spark, SF, n_batches=3, in_order=in_order
    )
    assert {tuple(r) for r in got.select(*COLS).collect()} == expected
    assert len(expected) > 0
