"""One schema-typed row mapper for every per-row Python operator.

``map_rows(df, row_fn, schema)`` streams ``df`` through ``mapInPandas``
and calls ``row_fn(row_dict)`` on every input row; it yields zero or
more output tuples in schema order. Each output column is built as
``pd.array(values, dtype=...)`` with the dtype taken from the declared
Spark type, never inferred by pandas: inference turns a long column
holding one NULL into float64 and rounds every 64-bit value in that
batch, so results would depend on how rows fall into Arrow batches.

One frame is yielded per input batch, and within a batch a frame is
flushed every ``_FLUSH_BYTES`` of binary output or ``_FLUSH_ROWS`` rows
(rows flush on their own: millions of empty outputs never reach the
byte threshold), so a row-expanding operator — a zip bomb, a long
video sampled into frames — holds one chunk plus one row, not its
whole expansion. Failure semantics stay in ``row_fn``: catch there and
yield NULL fields or a marker row; anything that escapes fails the task,
and so does a value its declared column cannot hold (2**31 in an ``int``
column), so a row function bounds what it reads from file headers.

Input rows come from Spark's own Arrow-to-pandas conversion, so a
nullable integral input column holding a NULL arrives as float64 (NaN
for NULL); no operator here reads such a column.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_FLUSH_BYTES = 64 * 1024 * 1024
_FLUSH_ROWS = 100_000

_DTYPES = {
    T.ByteType: "Int8",
    T.ShortType: "Int16",
    T.IntegerType: "Int32",
    T.LongType: "Int64",
    T.FloatType: "Float32",
    T.DoubleType: "Float64",
    T.BooleanType: "boolean",
}

RowFn = Callable[[dict], Iterable[tuple]]


def _frame(rows: list[tuple], schema: T.StructType):
    import pandas as pd

    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    return pd.DataFrame(
        {
            f.name: pd.array(list(v), _DTYPES.get(type(f.dataType), object))
            for f, v in zip(schema.fields, cols)
        }
    )


def _batch_mapper(row_fn: RowFn, schema: T.StructType):
    """The ``mapInPandas`` body for ``row_fn``: pandas batches in, typed
    frames out. The flush limits are read here, on the driver: workers
    import this module afresh, so a changed limit reaches them only
    through the closure."""
    flush_bytes, flush_rows = _FLUSH_BYTES, _FLUSH_ROWS
    binary = [
        i
        for i, f in enumerate(schema.fields)
        if isinstance(f.dataType, T.BinaryType)
    ]

    def run(batches: Iterator) -> Iterator:
        for pdf in batches:
            rows: list[tuple] = []
            acc = 0
            flushed = False
            for row in pdf.to_dict("records"):
                for out in row_fn(row):
                    rows.append(out)
                    acc += sum(len(out[i] or b"") for i in binary)
                    if acc >= flush_bytes or len(rows) >= flush_rows:
                        yield _frame(rows, schema)
                        rows, acc, flushed = [], 0, True
            if rows or not flushed:
                yield _frame(rows, schema)

    return run


def map_rows(
    df: DataFrame, row_fn: RowFn, schema: str | T.StructType
) -> DataFrame:
    """``row_fn(row_dict)`` over every row of ``df``, typed by ``schema``
    (a DDL string or a ``StructType``)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return df.mapInPandas(_batch_mapper(row_fn, schema), schema=schema)


__all__ = ["map_rows"]
