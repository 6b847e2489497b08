"""COPY-protocol Postgres sink (the pgfutter-class fast path).

The reference's loader is pgfutter, a Go wrapper over Postgres ``COPY``
(reference Dockerfile:1-10,26; invocation main.py:491-542) — the
COPY protocol is the fast bulk path, typically several times quicker
than JDBC INSERT batches. This module provides the same class of
throughput from Spark with zero non-stdlib dependencies: each partition
opens one wire-protocol connection (``sources/pgwire.py``) and streams
its rows through ``COPY ... FROM STDIN (FORMAT csv)``.

Scale posture: the write is embarrassingly parallel and introduces no
shuffle; each non-empty partition opens one backend connection. Each
task writes in ONE transaction (``BEGIN``, one ``COPY`` per contiguous
run of rows from one input file, ``COMMIT``), so a failed task commits
nothing and Spark's task retry is safe; a failed overwrite job drops
its tables, so the tasks that did commit leave no partial table. With
speculative execution enabled, use ``mode="append"`` into a staging
table instead.

The pipeline (``Loader.write_sink``) writes every per-file table of an
import with ONE ``copy_write`` over one scan of all its files (one
Spark job), with a ``{file path: (table, columns)}`` mapping that
routes each row to its file's table; that write starts right after
discovery and the driver-side header checks, while the views are
built. If it fails, each file is
written on its own, so one bad file fails only its own table. A
prefix-combined table whose members all landed in the same run is built
inside Postgres by ``combine_tables`` (``CREATE TABLE ... AS SELECT *
FROM m1 UNION ALL ...``, the reference's own combine, main.py:215-248)
instead of COPYing the same rows a second time; otherwise it is COPYed
from its CSV-backed view. ``ensure_schema`` tolerates concurrent
callers, so concurrent ``copy_write`` calls into a fresh database work.

Reference semantics parity: pgfutter creates all-text columns in the
``import`` schema from the CSV header (reference README.md:51-53);
``copy_write`` does the same for all-string frames and maps Spark types
to Postgres types for typed frames. Header cells are arbitrary text, so
every identifier in the generated SQL goes through ``quote_ident``: a
cell holding ``"`` or ``;`` names one column and runs no SQL.
"""

from __future__ import annotations

import datetime as _dt
import io
import os
from collections.abc import Iterable, Iterator, Mapping
from itertools import chain, groupby
from operator import itemgetter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as Tp

from ..naming import uri_path_keys
from .jdbc import DbOptions
from .pgwire import PgConnection, PgError, connect

_PG_TYPES: list[tuple[type, str]] = [
    (Tp.StringType, "text"),
    (Tp.BooleanType, "boolean"),
    (Tp.ByteType, "smallint"),
    (Tp.ShortType, "smallint"),
    (Tp.IntegerType, "integer"),
    (Tp.LongType, "bigint"),
    (Tp.FloatType, "real"),
    (Tp.DoubleType, "double precision"),
    (Tp.DateType, "date"),
    (Tp.TimestampType, "timestamp"),
    (Tp.BinaryType, "bytea"),
]


def pg_type_for(dt: Tp.DataType) -> str:
    """Spark type -> Postgres column type (unhandled types: text)."""
    if isinstance(dt, Tp.DecimalType):
        return f"numeric({dt.precision},{dt.scale})"
    for spark_t, pg_t in _PG_TYPES:
        if isinstance(dt, spark_t):
            return pg_t
    return "text"


def quote_ident(name: str) -> str:
    """A Postgres quoted identifier: ``name`` inside ``"…"`` with every
    ``"`` doubled, so a header cell or table name is always exactly one
    identifier and never ends the quoting early."""
    return '"' + name.replace('"', '""') + '"'


def qualified(table: str, schema: str = "import") -> str:
    return f"{quote_ident(schema)}.{quote_ident(table)}"


def create_table_ddl(
    df: DataFrame,
    table: str,
    schema: str = "import",
    columns: list[str] | None = None,
) -> str:
    """``CREATE TABLE`` from the frame's fields, or from its first
    ``len(columns)`` fields named ``columns``."""
    names = df.columns if columns is None else columns
    cols = ", ".join(
        f"{quote_ident(n)} {pg_type_for(f.dataType)}"
        for n, f in zip(names, df.schema.fields)
    )
    return f"CREATE TABLE {qualified(table, schema)} ({cols})"


def _encode_field(v) -> str:
    """COPY CSV field encoding with ``NULL ''``: NULL -> unquoted empty,
    everything else ALWAYS quoted — so an empty STRING round-trips as
    ``""`` instead of being collapsed into NULL by the NULL rule
    (which applies to unquoted values only)."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return '"t"' if v else '"f"'
    if isinstance(v, (bytes, bytearray)):
        return '"\\x' + bytes(v).hex() + '"'
    if isinstance(v, _dt.datetime):
        return '"' + v.isoformat(sep=" ") + '"'
    if isinstance(v, _dt.date):
        return '"' + v.isoformat() + '"'
    return '"' + str(v).replace('"', '""') + '"'


def rows_to_copy_csv(rows: Iterable, n_cols: int) -> Iterator[bytes]:
    """Encode partition rows as COPY-friendly CSV chunks (~1 MiB)."""
    buf = io.StringIO()
    for row in rows:
        buf.write(
            ",".join(_encode_field(row[i]) for i in range(n_cols)) + "\n"
        )
        if buf.tell() > 1 << 20:
            yield buf.getvalue().encode()
            buf.seek(0)
            buf.truncate()
    if buf.tell():
        yield buf.getvalue().encode()


def ensure_schema(conn: PgConnection, schema: str = "import") -> None:
    """``CREATE SCHEMA IF NOT EXISTS``, safe under concurrent callers.

    Two sessions creating the same missing schema at once can both pass
    the IF NOT EXISTS check; the loser then fails on pg_namespace's
    unique index (23505) or as a duplicate schema (42P06). Either error
    means the schema exists now, which is all the caller needs."""
    try:
        conn.query(f"CREATE SCHEMA IF NOT EXISTS {quote_ident(schema)}")
    except PgError as e:
        if e.fields.get("C") not in ("23505", "42P06"):
            raise


def combine_tables(
    db: DbOptions, table: str, members: list[str], schema: str = "import"
) -> None:
    """(Re)create ``<schema>.<table>`` inside Postgres as the UNION ALL
    of the member tables (reference main.py:215-248). The union is
    positional, so callers must have checked that the member columns
    match. DROP and CREATE go in one simple Query, which Postgres runs
    as one transaction: a failure leaves the old table in place."""
    union = " UNION ALL ".join(
        f"SELECT * FROM {qualified(m, schema)}" for m in members
    )
    target = qualified(table, schema)
    with connect(db) as conn:
        conn.query(
            f"DROP TABLE IF EXISTS {target}; "
            f"CREATE TABLE {target} AS {union}"
        )


def copy_write(
    df: DataFrame,
    db: DbOptions,
    table: str | Mapping[str, tuple[str, list[str]]],
    mode: str = "overwrite",
    schema: str = "import",
) -> None:
    """Stream a DataFrame into Postgres via COPY, one connection and one
    transaction per partition.

    ``table`` is one table name (every row, every field), or a
    ``{file path: (table, columns)}`` mapping: each row then goes to
    the table of the CSV file it was read from (``F.input_file_name()``
    matched through :func:`naming.uri_path_keys`), which takes the
    row's first ``len(columns)`` fields under those names, so one scan
    of files whose headers differ writes every file's table. A row
    whose file is not in the mapping fails its task, never dropped.

    ``mode``: ``overwrite`` drops + recreates every target table, in
    one Query on the driver before the job, and drops them again if the
    job fails, so committed tasks leave no partial table; ``append``
    requires them to exist. Each task runs one ``COPY`` per contiguous
    run of rows from one file inside ``BEGIN … COMMIT``, so a failed
    task commits nothing and a Spark retry is safe."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append: {mode}")
    n_cols = len(df.columns)
    if isinstance(table, str):
        targets: dict[str, list[str] | None] = {table: None}
        routes: dict[str, tuple[str, int]] = {}
        rows_df, file_of = df, (lambda row: None)
    else:
        targets = dict(table.values())
        # lexical paths go in last, so they win a clash with a real one
        routes = {
            key(p): (t, len(cols))
            for key in (os.path.realpath, os.path.abspath)
            for p, (t, cols) in table.items()
        }
        # the file URI rides after the data columns; the encoder reads
        # each table's first fields by position, so it never writes it
        rows_df = df.select("*", F.input_file_name())
        file_of = itemgetter(n_cols)
    drop = {t: f"DROP TABLE IF EXISTS {qualified(t, schema)}" for t in targets}
    with connect(db) as conn:
        ensure_schema(conn, schema)
        if mode == "overwrite":
            conn.query(
                "; ".join(
                    f"{drop[t]}; {create_table_ddl(df, t, schema, cols)}"
                    for t, cols in sorted(targets.items())
                )
            )

    host = db.host or "localhost"
    port = db.port or 5432
    database = db.database or "postgres"
    user = db.user or "postgres"
    password = db.password

    def _target(uri: str | None) -> tuple[str, int]:
        if uri is None:
            return qualified(table, schema), n_cols
        lexical, real = uri_path_keys(uri)
        t = routes.get(lexical) or routes.get(real)
        if t is None:
            raise KeyError(f"no target table for input file {uri!r}")
        return qualified(t[0], schema), t[1]

    def _write_partition(rows):
        runs = groupby(rows, file_of)
        first = next(runs, None)
        if first is None:  # empty partition: don't open a connection
            return
        with PgConnection(
            host=host, port=port, database=database,
            user=user, password=password,
        ) as pc:
            pc.query("BEGIN")
            for uri, run in chain([first], runs):
                target, width = _target(uri)
                pc.copy_in(
                    f"COPY {target} FROM STDIN (FORMAT csv, NULL '')",
                    rows_to_copy_csv(run, width),
                )
            pc.query("COMMIT")

    try:
        rows_df.foreachPartition(_write_partition)
    except Exception:
        if mode == "overwrite":
            with connect(db) as conn:
                conn.query("; ".join(drop.values()))
        raise


def table_counts(
    db: DbOptions, tables: list[str], schema: str = "import"
) -> dict[str, int]:
    """``SELECT count(*)`` per sink table (reconciliation read-back,
    reference post_load_check main.py:250-306). Missing tables -> 0."""
    out: dict[str, int] = {}
    with connect(db) as conn:
        for t in tables:
            exists = conn.scalar(
                "SELECT 1 FROM information_schema.tables "
                f"WHERE table_schema = '{schema}' AND table_name = '{t}'"
            )
            out[t] = (
                int(conn.scalar(f"SELECT count(*) FROM {qualified(t, schema)}"))
                if exists
                else 0
            )
    return out


__all__ = [
    "combine_tables",
    "copy_write",
    "ensure_schema",
    "table_counts",
    "rows_to_copy_csv",
    "create_table_ddl",
    "pg_type_for",
]
