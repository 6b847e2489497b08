"""Naming goldens pinned by the reference tests (tests/test_load.py:38-71)."""

from __future__ import annotations

from urllib.parse import quote

import pytest

from postgresimporter_spark.naming import (
    file_table_name,
    table_name_for_path,
    to_filename,
    uri_path_keys,
)

GOLDENS = [
    ("running_jan19.csv", "running"),
    ("running_feb19.csv", "running"),
    ("timetables_jan19.csv", "timetables"),
    ("train_jan19.csv", "train"),
    ("example.test.csv", "example"),
    ("/a/b/2019 - 01/running_jan19.csv", "running"),
]


@pytest.mark.parametrize("path,expected", GOLDENS)
def test_table_name_for_path(path, expected):
    assert table_name_for_path(path) == expected


def test_to_filename_umlauts():
    assert to_filename("Straße") == "Strasse"
    assert to_filename("über_älter") == "ueber_aelter"
    assert to_filename("schön") == "schoen"


def test_to_filename_punct_and_spaces():
    assert to_filename("a.b") == "a_b"
    assert to_filename("hello  world") == "hello_world"
    assert to_filename("x-y - z") == "x_y_z"
    assert to_filename("weird!@#chars") == "weirdchars"


def test_file_table_name_keeps_full_stem():
    assert file_table_name("animals_1.csv") == "animals_1"
    assert file_table_name("/d/animals_2.csv") == "animals_2"


def test_row_level_variant_matches_python(spark):
    from pyspark.sql import functions as F

    from postgresimporter_spark.naming import table_name_for_path_col

    paths = [p for p, _ in GOLDENS]
    df = spark.createDataFrame([(p,) for p in paths], ["path"])
    got = [
        r[0]
        for r in df.select(table_name_for_path_col(F.col("path"))).collect()
    ]
    assert got == [table_name_for_path(p) for p in paths]


def test_uri_path_keys_unquotes_without_form_decoding(tmp_path):
    """An ``input_file_name`` URI names its file by the lexical and the
    real path: %XX sequences decode once, ``+`` stays ``+``, and a
    symlinked directory gives both the link path and the target path."""
    real = tmp_path / "real"
    real.mkdir()
    link = tmp_path / "link"
    link.symlink_to(real, target_is_directory=True)
    name = "a b+c%41\u00e9.csv"
    # as Hadoop encodes it: '+' is legal in a URI path and stays as is
    uri = "file://" + quote(str(link / name), safe="/+")
    assert uri_path_keys(uri) == (str(link / name), str(real.resolve() / name))
    # a URI without a scheme is its encoded path alone
    bare = quote(str(real / name), safe="/+")
    assert uri_path_keys(bare) == (str(real / name),) * 2
