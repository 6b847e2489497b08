"""Live Postgres round-trip tests: the reference's E2E contract
(load CSVs -> Postgres -> count read-back -> reconciliation,
reference main.py:250-306) against a REAL server.

The container ships Postgres server binaries but no client library —
the sink speaks the wire protocol directly (sources/pgwire.py). The
fixture initdb's a throwaway cluster on a unix socket with trust auth;
Postgres refuses to run as root, so when the tests run as root the
server is spawned as ``nobody`` via su. Anything missing (binaries,
su, permissions) -> the whole module skips.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import subprocess
import time
from decimal import Decimal
from pathlib import Path

import pytest

from postgresimporter_spark.config import PipelineConfig
from postgresimporter_spark.pipeline import run_pipeline
from postgresimporter_spark.sources import copy_sink
from postgresimporter_spark.sources.copy_sink import (
    copy_write,
    ensure_schema,
    execute_sql,
    table_counts,
)
from postgresimporter_spark.sources.jdbc import DbOptions
from postgresimporter_spark.sources.pgwire import PgConnection, PgError

PG_PORT = 55432
PG_USER = "tester"


def _run_as_pg_owner(cmd: str) -> subprocess.CompletedProcess:
    """Run a shell command as a user allowed to run Postgres."""
    import shlex

    if os.geteuid() == 0:
        cmd = f"su -s /bin/sh nobody -c {shlex.quote(cmd)}"
    return subprocess.run(
        cmd, shell=True, capture_output=True, text=True, timeout=60
    )


@pytest.fixture(scope="module")
def pg(tmp_path_factory):
    if not (shutil.which("initdb") and shutil.which("pg_ctl")):
        pytest.skip("postgres binaries not available")
    base = Path("/tmp") / f"pglive-{os.getpid()}"
    data, sock = base / "data", base / "sock"
    shutil.rmtree(base, ignore_errors=True)
    for d in (data, sock):
        d.mkdir(parents=True)
    if os.geteuid() == 0:
        subprocess.run(["chown", "-R", "nobody", str(base)], check=True)
    r = _run_as_pg_owner(
        f"initdb -D {data} -U {PG_USER} --auth=trust"
    )
    if r.returncode != 0:
        shutil.rmtree(base, ignore_errors=True)
        pytest.skip(f"initdb failed: {r.stderr[-200:]}")
    r = _run_as_pg_owner(
        f"pg_ctl -D {data} -l {base}/log -o "
        f"\"-k {sock} -c listen_addresses='' -p {PG_PORT}\" start"
    )
    if r.returncode != 0:
        shutil.rmtree(base, ignore_errors=True)
        pytest.skip(f"pg_ctl failed: {r.stderr[-200:]}")
    deadline = time.time() + 15
    while not (sock / f".s.PGSQL.{PG_PORT}").exists():
        if time.time() > deadline:
            _run_as_pg_owner(f"pg_ctl -D {data} stop -m immediate")
            pytest.skip("postgres socket never appeared")
        time.sleep(0.2)
    db = DbOptions(
        database="postgres", host=str(sock), port=str(PG_PORT),
        user=PG_USER,
    )
    yield db
    _run_as_pg_owner(f"pg_ctl -D {data} stop -m immediate")
    shutil.rmtree(base, ignore_errors=True)


def test_wire_client_basics(pg):
    with PgConnection(
        host=pg.host, port=pg.port, database=pg.database, user=pg.user
    ) as c:
        assert c.scalar("SELECT 41 + 1") == "42"
        assert c.query("SELECT NULL, ''") == [(None, "")]
        with pytest.raises(PgError) as ei:
            c.query("SELECT * FROM no_such_table_xyz")
        assert ei.value.fields.get("C") == "42P01"
        # connection survives an error and a multi-statement script
        assert c.query("SELECT 1; SELECT 'a;b' AS s") == [("a;b",)]


def test_copy_write_typed_roundtrip(spark, pg):
    df = spark.createDataFrame(
        [
            (
                1, "plain", 1.5, Decimal("12.34"),
                dt.date(2024, 1, 2), dt.datetime(2024, 1, 2, 3, 4, 5),
                True, bytearray(b"\x00\xff"),
            ),
            (
                2, 'quote " comma , newline \n end', None, None,
                None, None, None, None,
            ),
            (3, "", 0.0, Decimal("0.00"), dt.date(1999, 12, 31),
             dt.datetime(1999, 12, 31, 23, 59, 59), False, bytearray(b"")),
        ],
        "id long, s string, d double, num decimal(10,2), dy date, "
        "ts timestamp, b boolean, bin binary",
    )
    copy_write(df, pg, "typed")
    with PgConnection(
        host=pg.host, port=pg.port, database=pg.database, user=pg.user
    ) as c:
        cols = c.query(
            "SELECT data_type FROM information_schema.columns "
            "WHERE table_schema='import' AND table_name='typed' "
            "ORDER BY ordinal_position"
        )
        assert [r[0] for r in cols] == [
            "bigint", "text", "double precision", "numeric", "date",
            "timestamp without time zone", "boolean", "bytea",
        ]
        rows = c.query(
            'SELECT id, s, d, num, dy, ts, b, bin FROM import."typed" '
            "ORDER BY id"
        )
    assert rows[0] == (
        "1", "plain", "1.5", "12.34", "2024-01-02",
        "2024-01-02 03:04:05", "t", "\\x00ff",
    )
    # NULLs stay NULL; empty string stays empty (not collapsed to NULL)
    assert rows[1][0] == "2" and rows[1][2:] == (None,) * 6
    assert "quote" in rows[1][1] and "\n" in rows[1][1]
    assert rows[2][1] == "" and rows[2][6] == "f"


def test_copy_write_append_and_overwrite(spark, pg):
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    copy_write(df, pg, "ow")
    copy_write(df, pg, "ow", mode="append")
    assert table_counts(pg, ["ow"]) == {"ow": 2}
    copy_write(df, pg, "ow")  # overwrite resets
    assert table_counts(pg, ["ow"]) == {"ow": 1}
    assert table_counts(pg, ["never_made"]) == {"never_made": 0}


def test_execute_sql_dollar_quoted_function(pg):
    execute_sql(
        pg,
        "CREATE OR REPLACE FUNCTION import_live_fn() RETURNS int AS "
        "$body$ BEGIN RETURN 5; END; $body$ LANGUAGE plpgsql;",
    )
    with PgConnection(
        host=pg.host, port=pg.port, database=pg.database, user=pg.user
    ) as c:
        assert c.scalar("SELECT import_live_fn()") == "5"


def test_pipeline_live_roundtrip(spark, pg, tmp_path):
    """The reference's E2E: CSVs -> COPY into Postgres -> post-load hook
    runs IN the DB -> reconciliation compares CSV counts against the
    DB's own count(*) -> zero diff."""
    data = tmp_path / "data"
    data.mkdir()
    (data / "animals_1.csv").write_text(
        'name,origin,height\nGrizzly,"North America",220\n'
        'Wallabie,"Australia",180\n'
    )
    (data / "animals_2.csv").write_text(
        "name,origin,height\nPanda,China,150\n"
    )
    hook = tmp_path / "post.sql"
    hook.write_text(
        "CREATE TABLE import.hook_proof AS "
        'SELECT count(*) AS n FROM import."animals";\n'
        "SELECT broken syntax here;\n"  # must not stop the script
        "CREATE TABLE import.hook_proof2 AS SELECT 1 AS one;"
    )
    cfg = PipelineConfig(
        sources=[data], combine_tables=True, post_load=[hook], db=pg
    )
    result = run_pipeline(spark, cfg)
    assert result.check_passed
    report = {r.table: r for r in result.report.collect()}
    assert report["animals"].csv_rows == 3
    assert report["animals"].db_rows == 3
    assert report["animals"].difference == 0
    with PgConnection(
        host=pg.host, port=pg.port, database=pg.database, user=pg.user
    ) as c:
        rows = c.query(
            'SELECT name, origin, height FROM import."animals" '
            "ORDER BY name"
        )
        assert rows == [
            ("Grizzly", "North America", "220"),
            ("Panda", "China", "150"),
            ("Wallabie", "Australia", "180"),
        ]
        # all-text loading, pgfutter-style
        types = c.query(
            "SELECT DISTINCT data_type FROM information_schema.columns "
            "WHERE table_schema='import' AND table_name='animals'"
        )
        assert types == [("text",)]
        assert c.scalar("SELECT n FROM import.hook_proof") == "3"
        assert c.scalar("SELECT one FROM import.hook_proof2") == "1"


def test_stream_to_postgres_roundtrip(spark, pg, tmp_path):
    """Streaming COPY ingest: micro-batches land in Postgres via the
    COPY sink, and a restart from the checkpoint ingests only files
    that arrived after the first run (exactly-once source tracking)."""
    from postgresimporter_spark.streaming.pipeline import stream_to_postgres

    src = tmp_path / "stream_src"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, s string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))

    schema = "id long, s string"
    stream = spark.readStream.schema(schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    q = stream_to_postgres(stream, pg, "streamed", ckpt)
    q.awaitTermination()

    with PgConnection(
        host=pg.host, port=pg.port, database=pg.database, user=pg.user
    ) as c:
        assert c.scalar('SELECT count(*) FROM import."streamed"') == "2"

    # new file arrives; restart from the same checkpoint -> appends
    # ONLY the new rows (old file already committed in the source log)
    spark.createDataFrame(
        [(3, "c")], "id long, s string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))
    stream2 = spark.readStream.schema(schema).option(
        "recursiveFileLookup", "true"
    ).parquet(str(src))
    q2 = stream_to_postgres(stream2, pg, "streamed", ckpt)
    q2.awaitTermination()

    with PgConnection(
        host=pg.host, port=pg.port, database=pg.database, user=pg.user
    ) as c:
        rows = c.query('SELECT id FROM import."streamed" ORDER BY id')
    assert [r[0] for r in rows] == ["1", "2", "3"]


def _conn(db: DbOptions) -> PgConnection:
    return PgConnection(
        host=db.host, port=db.port, database=db.database, user=db.user
    )


def _fresh_db(pg: DbOptions, name: str) -> DbOptions:
    with _conn(pg) as c:
        c.query(f"DROP DATABASE IF EXISTS {name}")
        c.query(f"CREATE DATABASE {name}")
    return DbOptions(
        database=name, host=pg.host, port=pg.port, user=pg.user
    )


def _write_csvs(d: Path, files: dict[str, str]) -> Path:
    d.mkdir(parents=True)
    for name, text in files.items():
        (d / name).write_text(text)
    return d


def _spy(monkeypatch, fail: dict | None = None) -> dict[str, list]:
    """Record the tables the pipeline COPYs and combines in Postgres.
    ``fail`` maps a table name to a function that replaces its
    ``copy_write`` call (to inject a failure)."""
    calls: dict[str, list] = {"copy": [], "combine": []}
    real_copy, real_combine = copy_sink.copy_write, copy_sink.combine_tables

    def copy_spy(df, db, table, *a, **k):
        calls["copy"].append(table)
        if fail and table in fail:
            return fail[table](real_copy, df, db, table)
        return real_copy(df, db, table, *a, **k)

    def combine_spy(db, table, members, *a, **k):
        calls["combine"].append(table)
        return real_combine(db, table, members, *a, **k)

    monkeypatch.setattr(copy_sink, "copy_write", copy_spy)
    monkeypatch.setattr(copy_sink, "combine_tables", combine_spy)
    return calls


def _rows(db: DbOptions, table: str) -> list[tuple]:
    with _conn(db) as c:
        return sorted(
            c.query(f'SELECT * FROM import."{table}"'),
            key=repr,
        )


def _column_types(db: DbOptions, table: str) -> list[tuple]:
    with _conn(db) as c:
        return c.query(
            "SELECT column_name, data_type FROM information_schema.columns "
            f"WHERE table_schema='import' AND table_name='{table}' "
            "ORDER BY ordinal_position"
        )


def test_ensure_schema_concurrent_creators(pg):
    """Sessions that create the same missing schema at the same moment
    all succeed: the loser of the pg_namespace race must not fail."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    for trial in range(5):
        db = _fresh_db(pg, f"schema_race_{trial}")
        conns = [_conn(db) for _ in range(8)]
        gate = threading.Barrier(len(conns), timeout=30)

        def create(conn):
            gate.wait()
            ensure_schema(conn)

        try:
            with ThreadPoolExecutor(len(conns)) as pool:
                list(pool.map(create, conns))
        finally:
            for c in conns:
                c.close()


def test_copy_write_concurrent_into_fresh_database(spark, pg):
    """Several copy_write calls at once into a database with no import
    schema yet: every table lands with its rows."""
    from concurrent.futures import ThreadPoolExecutor

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    tables = [f"t{i}" for i in range(8)]
    for trial in range(3):
        db = _fresh_db(pg, f"copy_race_{trial}")
        with ThreadPoolExecutor(len(tables)) as pool:
            list(pool.map(lambda t: copy_write(df, db, t), tables))
        assert table_counts(db, tables) == {t: 2 for t in tables}


def test_pipeline_combines_in_db_like_csv_union(spark, pg, tmp_path, monkeypatch):
    """A small group whose members all landed is combined inside
    Postgres. Its rows (as a sorted multiset) and its all-text column
    types equal those of the CSV-backed union view."""
    data = _write_csvs(
        tmp_path / "data",
        {
            "birds_1.csv": 'name,note,wing\nOwl,"says ""hoo""",30\n'
            'Owl,"says ""hoo""",30\nKite,,\n',
            "birds_2.csv": 'name,note,wing\nTern,"a,b",\n'
            'Wren,"multi\nline",5\n',
            "birds_3.csv": "name,note,wing\n",
        },
    )
    calls = _spy(monkeypatch)
    result = run_pipeline(
        spark, PipelineConfig(sources=[data], combine_tables=True, db=pg)
    )
    assert result.check_passed
    assert calls["combine"] == ["birds"]
    assert "birds" not in calls["copy"]
    assert "import_birds" in result.sink_written
    view = result.combined_views["import_birds"]
    assert _rows(pg, "birds") == sorted(
        (tuple(r) for r in view.collect()), key=repr
    )
    assert len(_rows(pg, "birds")) == 5
    assert _column_types(pg, "birds") == [
        (c, "text") for c in view.columns
    ]


def test_pipeline_large_group_combines_through_copy(
    spark, pg, tmp_path, monkeypatch
):
    """Groups of _DISTRIBUTED_HEADER_MIN files are combined by COPY from
    the CSV-backed view, never inside Postgres, so the scan-time header
    validation still runs: a clean group lands whole, and a permuted
    member header fails its combined write, with the reconciliation
    reporting the missing rows."""
    from postgresimporter_spark.sources.csv import _DISTRIBUTED_HEADER_MIN

    n = _DISTRIBUTED_HEADER_MIN
    files = {}
    for prefix in ("big", "wide"):
        for i in range(n):
            files[f"{prefix}_{i:03d}.csv"] = f"a,b\n{i},x\n{i},y\n"
    files[f"big_{n // 2:03d}.csv"] = "b,a\nx,0\ny,0\n"
    data = _write_csvs(tmp_path / "data", files)
    calls = _spy(monkeypatch)
    result = run_pipeline(
        spark, PipelineConfig(sources=[data], combine_tables=True, db=pg)
    )
    assert calls["combine"] == []
    assert {"big", "wide"} <= set(calls["copy"])
    assert "import_wide" in result.sink_written
    assert _rows(pg, "wide") == sorted(
        ((str(i), v) for i in range(n) for v in "xy"), key=repr
    )
    assert "import_big" not in result.sink_written
    # every member landed on its own
    assert {f"import_big_{i:03d}" for i in range(n)} <= result.sink_written
    # the partition holding the permuted file rolled back its COPY;
    # partitions that finished first may have committed theirs
    report = {r.table: r for r in result.report.collect()}
    assert report["big"].csv_rows == 2 * n
    assert report["big"].db_rows <= 2 * n - 2
    assert report["big"].difference == 2 * n - report["big"].db_rows


def _fail_before_ddl(real_copy, df, db, table):
    raise RuntimeError(f"injected connection failure for {table}")


def _fail_during_copy(real_copy, df, db, table):
    """The table is created, then the Spark job streaming its rows
    fails, as a COPY that breaks mid-write would."""
    from pyspark.sql import functions as F

    broken = df.withColumn(
        df.columns[0], F.raise_error(F.lit(f"injected COPY failure {table}"))
    )
    return real_copy(broken, db, table)


def test_pipeline_stale_member_table_not_trusted(
    spark, pg, tmp_path, monkeypatch
):
    """A member table left by a previous run does not feed the combined
    table when this run's write of that member failed: the combined
    table is COPYed from the CSV-backed view instead."""
    data = _write_csvs(
        tmp_path / "data",
        {
            "fish_1.csv": "name,fins\nCod,7\n",
            "fish_2.csv": "name,fins\nEel,0\nRay,2\n",
        },
    )
    cfg = PipelineConfig(sources=[data], combine_tables=True, db=pg)
    assert run_pipeline(spark, cfg).check_passed
    want = _rows(pg, "fish")
    # the previous run's member table now holds rows the CSVs don't
    with _conn(pg) as c:
        c.query("INSERT INTO import.\"fish_2\" VALUES ('Stale', '9')")
    calls = _spy(monkeypatch, fail={"fish_2": _fail_before_ddl})
    result = run_pipeline(spark, cfg)
    assert "import_fish_2" not in result.sink_written
    assert "import_fish" in result.sink_written
    assert calls["combine"] == []
    assert "fish" in calls["copy"]
    assert _rows(pg, "fish") == want
    assert result.check_passed


def test_pipeline_failed_member_write_falls_back_to_copy(
    spark, pg, tmp_path, monkeypatch
):
    """A member whose COPY fails this run (its table created, its rows
    not) sends the combined table to COPY from the CSV-backed view."""
    data = _write_csvs(
        tmp_path / "data",
        {
            "crabs_1.csv": "name,legs\nKing,10\n",
            "crabs_2.csv": "name,legs\nHermit,10\nBlue,10\n",
        },
    )
    calls = _spy(monkeypatch, fail={"crabs_1": _fail_during_copy})
    result = run_pipeline(
        spark, PipelineConfig(sources=[data], combine_tables=True, db=pg)
    )
    assert calls["copy"].count("crabs_1") == 1
    assert "import_crabs_1" not in result.sink_written
    assert table_counts(pg, ["crabs_1"]) == {"crabs_1": 0}
    assert calls["combine"] == []
    assert "import_crabs" in result.sink_written
    assert _rows(pg, "crabs") == [
        ("Blue", "10"), ("Hermit", "10"), ("King", "10"),
    ]
    assert result.check_passed


def test_pipeline_same_stem_members_combine_through_copy(
    spark, pg, tmp_path, monkeypatch
):
    """Two files with one stem in different directories share a member
    table name, so that table holds only one of them. Their group is
    combined by COPY from the CSV-backed view, never from the member
    table twice."""
    data = tmp_path / "data"
    _write_csvs(data / "x", {"eels_1.csv": "name\nConger\nMoray\n"})
    _write_csvs(data / "y", {"eels_1.csv": "name\nGlass\nElectric\n"})
    calls = _spy(monkeypatch)
    result = run_pipeline(
        spark, PipelineConfig(sources=[data], combine_tables=True, db=pg)
    )
    assert calls["combine"] == []
    assert "import_eels" in result.sink_written
    assert _rows(pg, "eels") == [
        ("Conger",), ("Electric",), ("Glass",), ("Moray",),
    ]


def test_pipeline_failed_table_does_not_stop_others(
    spark, pg, tmp_path, monkeypatch
):
    """One table that fails to write is logged and skipped: every other
    table lands, and the reconciliation report shows the missing rows."""
    data = _write_csvs(
        tmp_path / "data",
        {
            "moths_1.csv": "name\nLuna\n",
            "moths_2.csv": "name\nAtlas\nHawk\n",
            "plants.csv": "name\nFern\nMoss\nIvy\n",
        },
    )
    _spy(monkeypatch, fail={"plants": _fail_before_ddl})
    result = run_pipeline(
        spark, PipelineConfig(sources=[data], combine_tables=True, db=pg)
    )
    assert result.sink_written == {
        "import_moths_1", "import_moths_2", "import_moths",
    }
    assert table_counts(pg, ["moths_1", "moths_2", "moths", "plants"]) == {
        "moths_1": 1, "moths_2": 2, "moths": 3, "plants": 0,
    }
    report = {r.table: r for r in result.report.collect()}
    assert report["moths"].difference == 0
    assert (report["plants"].csv_rows, report["plants"].db_rows) == (3, 0)
    assert report["plants"].difference == 3
    # within the reference's tolerance of 100, so the run still passes
    assert result.check_passed
