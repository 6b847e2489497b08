"""Results must not depend on how rows are laid out: the per-row Python
operators (through ``rowmap.map_rows``) and the mergeable sketches give
identical rows whether every Arrow batch holds one row in one shuffle
partition or the default batch size spreads over eight partitions.
Mergeable summaries are partition-invariant by definition
("Approximation Algorithms for Large Scale Data Analysis", PODS 2021),
and a schema-typed row mapper must be batch-invariant."""

from __future__ import annotations

import pytest

from postgresimporter_spark.plans import registry

_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"
_SHUFFLE = "spark.sql.shuffle.partitions"
LAYOUT_A = {_BATCH: "1", _SHUFFLE: "1"}
LAYOUT_B = {_BATCH: "10000", _SHUFFLE: "8"}  # Spark's default batch size

MAPPER_QUERIES = [
    "q49_pandas_tokenize",
    "q280_image_phash",
    "q282_audio_features",
    "q288_media_metadata",
    "q289_frame_sample",
    "q290_resize_roundtrip",
    "q300_video_neardup",
    "q307_audio_landmarks",
    "q312_cross_modal_neardup",
]
SKETCH_QUERIES = [
    "q160_countmin_heavy_hitters",
    "q161_kmv_distinct",
    "q175_hll_distinct",
    "q191_kmv_join_estimate",
    "q208_mergeable_quantiles",
    "q304_ams_f2",
    "q305_hll_rollup",
]


@pytest.fixture(scope="module")
def reg():
    return registry()


def _sorted_rows(spark, fn, sf, layout: dict[str, str]) -> list[tuple]:
    saved = {k: spark.conf.get(k) for k in layout}
    try:
        for k, v in layout.items():
            spark.conf.set(k, v)
        rows = fn(spark, sf).collect()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    return sorted((tuple(r) for r in rows), key=repr)


@pytest.mark.parametrize("name", MAPPER_QUERIES + SKETCH_QUERIES)
def test_rows_identical_across_batch_and_partition_layouts(
    spark, sf_dir, reg, name
):
    fn = reg[name].fn
    a = _sorted_rows(spark, fn, sf_dir, LAYOUT_A)
    b = _sorted_rows(spark, fn, sf_dir, LAYOUT_B)
    assert a, f"{name} returned no rows: the comparison would be vacuous"
    assert a == b
