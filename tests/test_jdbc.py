"""Postgres connection options (env fallback, reference cli.py:122-127)
and the COPY sink's pure encoding layers; the live write path is in
``test_postgres_live.py``."""

from __future__ import annotations

from postgresimporter_spark.sources.jdbc import DbOptions


def test_env_fallback(monkeypatch):
    monkeypatch.setenv("DB_NAME", "envdb")
    monkeypatch.setenv("DB_HOST", "envhost")
    monkeypatch.setenv("DB_PORT", "5433")
    monkeypatch.setenv("DB_USER", "envuser")
    monkeypatch.setenv("DB_PASSWORD", "envpass")
    db = DbOptions()
    assert (db.database, db.host, db.port) == ("envdb", "envhost", "5433")
    assert (db.user, db.password) == ("envuser", "envpass")


def test_cli_overrides_env(monkeypatch):
    monkeypatch.setenv("DB_NAME", "envdb")
    monkeypatch.setenv("DB_PASSWORD", "envpass")
    db = DbOptions(database="clidb", host="h", port="1", user="u")
    assert (db.database, db.host, db.port, db.user) == ("clidb", "h", "1", "u")
    # a field the CLI leaves unset still falls back to the env
    assert db.password == "envpass"


def test_copy_csv_encoding():
    from postgresimporter_spark.sources.copy_sink import rows_to_copy_csv

    # CSV encoding works standalone (the unit-testable layer):
    # every non-NULL value quoted (so '' round-trips as an empty STRING
    # under COPY NULL ''), NULL as the unquoted empty field
    chunks = list(
        rows_to_copy_csv([(1, "a,b", None), (2, 'say "hi"', "")], 3)
    )
    text = b"".join(chunks).decode()
    assert text == '"1","a,b",\n"2","say ""hi""",""\n'


def test_copy_ddl_type_mapping(spark):
    from postgresimporter_spark.sources.copy_sink import create_table_ddl

    df = spark.createDataFrame(
        [], "id long, s string, d double, n decimal(12,3), "
        "dy date, ts timestamp, b boolean, bin binary, arr array<int>"
    )
    ddl = create_table_ddl(df, "t")
    assert ddl == (
        'CREATE TABLE "import"."t" ("id" bigint, "s" text, '
        '"d" double precision, "n" numeric(12,3), "dy" date, '
        '"ts" timestamp, "b" boolean, "bin" bytea, "arr" text)'
    )
