"""The shared per-row mapper: output dtypes come from the declared
schema, never from pandas inference, so a NULL cannot change how the
other values of its batch are typed. Most checks drive the module's
batch-to-frames generator (``_batch_mapper``) directly, without Spark."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql.types import StructType

from postgresimporter_spark import rowmap

BIG = 2719995713002226349  # > 2**53: float64 would round it


def _schema(spec):
    """'a string, b long' -> StructType, without a JVM (JSON type names)."""
    st = StructType()
    for field in spec.split(","):
        name, type_name = field.split()
        st.add(name, type_name)
    return st


def _frames(rows, row_fn, spec):
    """Run one input batch (a list of dicts) through the generator."""
    run = rowmap._batch_mapper(row_fn, _schema(spec))
    return list(run(iter([pd.DataFrame(rows)])))


def _identity(r):
    yield tuple(r.values())


def _rows(frames):
    out = []
    for f in frames:
        out.extend(
            tuple(None if v is pd.NA else v for v in t)
            for t in f.astype(object).itertuples(index=False)
        )
    return out


def test_long_next_to_null_is_exact():
    (frame,) = _frames(
        [{"k": "a"}, {"k": "b"}],
        lambda r: [(r["k"], BIG if r["k"] == "a" else None)],
        "k string, v long",
    )
    assert str(frame["v"].dtype) == "Int64"
    assert frame["v"].iloc[0] == BIG
    assert frame["v"].isna().tolist() == [False, True]


@pytest.mark.parametrize(
    "spec,value,dtype",
    [
        ("v integer", 7, "Int32"),
        ("v double", 1.5, "Float64"),
        ("v boolean", True, "boolean"),
        ("v binary", b"\x00\x01", "object"),
        ("v string", "x", "object"),
    ],
)
def test_nulls_kept_with_schema_dtype(spec, value, dtype):
    (frame,) = _frames(
        [{"i": 0}, {"i": 1}],
        lambda r: [(value if r["i"] == 0 else None,)],
        spec,
    )
    assert str(frame["v"].dtype) == dtype
    assert frame["v"].iloc[0] == value
    assert frame["v"].isna().tolist() == [False, True]


def test_zero_output_rows_give_empty_frame_with_schema_columns():
    (frame,) = _frames(
        [{"i": 0}, {"i": 1}], lambda r: [], "a string, b long, c binary"
    )
    assert len(frame) == 0
    assert list(frame.columns) == ["a", "b", "c"]
    assert str(frame["b"].dtype) == "Int64"


def test_input_row_gives_zero_one_or_many_rows():
    def fan(r):
        for j in range(r["n"]):
            yield r["n"], j

    frames = _frames([{"n": 0}, {"n": 1}, {"n": 3}], fan, "n long, j long")
    assert _rows(frames) == [(1, 0), (3, 0), (3, 1), (3, 2)]


def test_one_frame_per_input_batch():
    batches = [pd.DataFrame({"x": [1, 2]}), pd.DataFrame({"x": [3]})]
    run = rowmap._batch_mapper(_identity, _schema("x long"))
    frames = list(run(iter(batches)))
    assert [len(f) for f in frames] == [2, 1]


@pytest.mark.parametrize("knob", ["_FLUSH_ROWS", "_FLUSH_BYTES"])
def test_flush_limits_split_frames_without_changing_rows(
    monkeypatch, knob
):
    rows = [{"k": i, "b": bytes([i]) * (i + 1)} for i in range(5)]
    spec = "k long, b binary"
    (whole,) = _frames(rows, _identity, spec)
    monkeypatch.setattr(rowmap, knob, 1)
    chunks = _frames(rows, _identity, spec)
    assert [len(f) for f in chunks] == [1] * len(rows)
    assert _rows(chunks) == _rows([whole])


def test_spark_long_next_to_null_is_exact(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        df = spark.createDataFrame([(i,) for i in range(6)], "i long")
        df = df.coalesce(1)  # one partition: batches of exactly 2 rows
        out = rowmap.map_rows(
            df,
            lambda r: [(r["i"], BIG if r["i"] % 2 == 0 else None)],
            "i long, v long",
        )
        got = sorted((r.i, r.v) for r in out.collect())
    finally:
        spark.conf.set(key, old)
    assert got == [(i, BIG if i % 2 == 0 else None) for i in range(6)]
