"""How a Python stage receives and returns data: Arrow record batches.

Every Python stage of the package crosses the JVM boundary as Arrow
(``mapInArrow`` / ``applyInArrow``) and never converts to pandas on the way
in or out: the one measured pandas-vs-Arrow pair, the cogroup interval
match, ran 4.6 s as ``applyInPandas`` against 0.6 s as ``applyInArrow``
with the same kernel (PERF_NOTES §15). Two helpers cover the two stage
shapes, and two more own the conversions both shapes share:

- :func:`map_rows` for row-at-a-time stages (codecs, parsers, synthesizers):
  the row function sees plain Python values and yields output tuples; the
  batch it returns to Spark is built against the declared schema.
- :func:`unit_vectors` for BLAS stages: an Arrow ``list<float>`` column as
  one float64 matrix of L2-normalized rows.
- :func:`vectors` reads such a column raw (codebook distances, integer
  sums), with the same NULL and ragged-row check.
- :func:`rows_batch` turns Python row tuples into an Arrow batch in the
  declared Spark types; it is how :func:`map_rows`, the ordered fold and
  the per-batch top-k / partial-sum stages return rows.

Stages that emit whole numpy columns (the blocked all-pairs search, the
IVF assignment, PQ codes, Misra-Gries, packing) build their output with
``pa.record_batch`` / ``pa.table`` directly.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """Narrow Python map: call ``fn(*row)`` on every row of ``df`` and emit
    the 0..n tuples it yields as rows of the DDL ``schema``.

    Inputs arrive as Python values in column order: ``bytes`` for binary,
    ``dict`` for a struct, ``list`` for an array, ``None`` for null. Output
    tuples hold Python values in schema order (``None`` for null); one
    Arrow batch goes back per input batch, and an input batch that yields
    no row sends none.
    """
    struct = StructType.fromDDL(schema)

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            rows = [
                t
                for row in zip(*(c.to_pylist() for c in batch.columns))
                for t in fn(*row)
            ]
            if rows:
                yield rows_batch(rows, struct)

    return df.mapInArrow(batches, struct)


def rows_batch(rows: list[tuple], schema: StructType) -> pa.RecordBatch:
    """Non-empty Python row tuples (values in ``schema`` order, ``None`` for
    null) as one Arrow batch typed by the Spark ``schema``, not by pyarrow's
    inference."""
    return pa.record_batch(list(zip(*rows)), schema=to_arrow_schema(schema))


def vectors(col: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """An Arrow ``list<number>`` column as a float64 ``(n, dim)`` matrix, one
    row per vector. Raises ``ValueError`` on a null or ragged vector: a
    flattened column drops them, so the rows would silently misalign."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    lengths = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    if col.null_count or (n and lengths.min() != lengths.max()):
        raise ValueError("vectors must be non-null and share one dimension")
    dim = int(lengths[0]) if n else 0
    X = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    return X.reshape(n, dim)


def unit_vectors(col: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """:func:`vectors` with each row L2-normalized (norms floored at 1e-12,
    so a zero vector stays zero)."""
    X = vectors(col)
    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
