"""The shared Python-stage helpers (functions/batches.py)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from pyspark.sql import types as T

from mongo_iceberg_lakehouse_spark.functions.batches import (
    map_rows,
    rows_batch,
    unit_vectors,
    vectors,
)


def test_map_rows_edge_cases(spark):  # noqa: F811
    """Empty partitions, rows that yield 0 and several tuples, a NULL input
    value, and a struct input that arrives as a dict."""
    rows = [
        (1, b"", {"tag": "a"}),     # yields no tuple
        (2, b"xyz", {"tag": "b"}),  # fans out to 3 tuples
        (3, None, None),            # NULL payload and struct
    ]
    schema = "id bigint, payload binary, meta struct<tag: string>"
    # 3 rows over 5 partitions: at least 2 partitions are empty
    df = spark.createDataFrame(rows, schema).repartition(5)

    def fan(i, payload, meta):
        if payload is None:
            assert meta is None
            yield (i, None, None)
            return
        assert isinstance(meta, dict)
        for pos, byte in enumerate(payload):
            yield (i, pos * 256 + byte, meta["tag"])

    out = map_rows(df, fan, "id bigint, code int, tag string")
    assert out.schema.simpleString() == "struct<id:bigint,code:int,tag:string>"
    assert sorted(out.collect(), key=lambda r: (r.id, r.code or 0)) == [
        (2, ord("x"), "b"),
        (2, 256 + ord("y"), "b"),
        (2, 512 + ord("z"), "b"),
        (3, None, None),
    ]
    assert map_rows(df.limit(0), fan, "id bigint, code int, tag string").count() == 0


def test_unit_vectors_normalizes_and_rejects_bad_rows():
    col = pa.array([[3.0, 4.0], [0.0, 0.0]], pa.list_(pa.float32()))
    np.testing.assert_array_equal(vectors(col), np.array([[3.0, 4.0], [0.0, 0.0]]))
    np.testing.assert_array_equal(
        unit_vectors(col), np.array([[0.6, 0.8], [0.0, 0.0]])
    )
    ints = pa.chunked_array([[[1, -2]], [[3, 4]]], pa.list_(pa.int32()))
    assert vectors(ints).tolist() == [[1.0, -2.0], [3.0, 4.0]]
    assert unit_vectors(pa.array([], pa.list_(pa.float32()))).shape == (0, 0)
    # a flattened column drops NULL rows: [[1,2], None, [3,4], [5,6]]
    # flattens to 6 values, which would reshape to (3, 2) misaligned rows
    bad_rows = (
        [[1.0, 2.0], None],
        [[1.0, 2.0], None, [3.0, 4.0], [5.0, 6.0]],
        [[1.0, 2.0], [1.0]],
    )
    for bad in bad_rows:
        for read in (vectors, unit_vectors):
            with pytest.raises(ValueError):
                read(pa.array(bad, pa.list_(pa.float32())))


def test_rows_batch_uses_declared_types():
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("xs", T.ArrayType(T.LongType())),
            T.StructField("flag", T.BooleanType()),
        ]
    )
    batch = rows_batch([(1, [2, 3], True), (None, None, None)], schema)
    assert batch.schema.types == [
        pa.int32(), pa.list_(pa.field("element", pa.int64())), pa.bool_()
    ]
    assert batch.to_pylist()[1] == {"id": None, "xs": None, "flag": None}
