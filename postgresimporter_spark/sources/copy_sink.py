"""COPY-protocol Postgres sink (the pgfutter-class fast path).

The reference's loader is pgfutter, a Go wrapper over Postgres ``COPY``
(reference Dockerfile:1-10,26; invocation main.py:491-542) — the
COPY protocol is the fast bulk path, typically several times quicker
than JDBC INSERT batches. This module provides the same class of
throughput from Spark with zero non-stdlib dependencies: each partition
opens one wire-protocol connection (``sources/pgwire.py``) and streams
its rows through ``COPY ... FROM STDIN (FORMAT csv)``.

Scale posture: the write is embarrassingly parallel — no shuffle is
introduced unless ``num_partitions`` asks for one (cap it to bound
connection fan-in: 1000 executors × cores would otherwise open that
many backends). Each partition's COPY is a single implicit transaction,
so a failed task leaves nothing behind and Spark's task retry is safe;
with speculative execution enabled, use ``mode="append"`` into a
staging table instead.

The pipeline (``Loader.write_sink``) writes its tables concurrently,
one ``copy_write`` per per-file view from a driver thread pool. It
creates the target schema once with ``ensure_schema`` before that
fan-out; ``ensure_schema`` also tolerates concurrent callers, so
standalone concurrent ``copy_write`` calls into a fresh database work
too. A prefix-combined table whose members all landed in the same run
is built inside Postgres by ``combine_tables`` (``CREATE TABLE ... AS
SELECT * FROM m1 UNION ALL ...``, the reference's own combine,
main.py:215-248) instead of COPYing the same rows a second time. The
pipeline falls back to ``copy_write`` from the CSV-backed combined view
when a member is missing or stale, when the group is large enough that
only the scan validates member headers, or when the server-side
combine fails.

Reference semantics parity: pgfutter creates all-text columns in the
``import`` schema from the CSV header (reference README.md:51-53);
``copy_write`` does the same for all-string frames and maps Spark types
to Postgres types for typed frames.
"""

from __future__ import annotations

import datetime as _dt
import io
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as Tp

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


def qualified(table: str, schema: str = "import") -> str:
    return f'"{schema}"."{table}"'


def create_table_ddl(
    df: DataFrame, table: str, schema: str = "import"
) -> str:
    cols = ", ".join(
        f'"{f.name}" {pg_type_for(f.dataType)}' for f in df.schema.fields
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
        conn.query(f'CREATE SCHEMA IF NOT EXISTS "{schema}"')
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
    table: str,
    mode: str = "overwrite",
    schema: str = "import",
    num_partitions: int | None = None,
) -> None:
    """Stream a DataFrame into ``<schema>.<table>`` via COPY, one
    connection per partition.

    ``mode``: ``overwrite`` drops + recreates the table from the
    DataFrame schema; ``append`` requires it to exist. DDL runs on the
    driver over one connection; data flows executor-side.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append: {mode}")
    with connect(db) as conn:
        ensure_schema(conn, schema)
        if mode == "overwrite":
            conn.query(
                f"DROP TABLE IF EXISTS {qualified(table, schema)};"
                + create_table_ddl(df, table, schema)
            )

    n_cols = len(df.columns)
    target = qualified(table, schema)
    host = db.host or "localhost"
    port = db.port or 5432
    database = db.database or "postgres"
    user = db.user or "postgres"
    password = db.password

    def _write_partition(rows):
        chunks = rows_to_copy_csv(rows, n_cols)
        first = next(chunks, None)
        if first is None:  # empty partition: don't open a connection
            return
        with PgConnection(
            host=host, port=port, database=database,
            user=user, password=password,
        ) as pc:
            pc.copy_in(
                f"COPY {target} FROM STDIN (FORMAT csv, NULL '')",
                _chain_first(first, chunks),
            )

    out = df.repartition(num_partitions) if num_partitions else df
    out.foreachPartition(_write_partition)


def _chain_first(first: bytes, rest: Iterator[bytes]) -> Iterator[bytes]:
    yield first
    yield from rest


def execute_sql(db: DbOptions, sql_text: str) -> None:
    """Run a sink-side SQL script (pre/post hooks against Postgres —
    reference exec.py:97-131 via psql). The whole script goes through
    one simple-protocol Query: the backend does the statement
    splitting, so dollar-quoted function bodies are safe verbatim."""
    with connect(db) as conn:
        conn.query(sql_text)


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
    "execute_sql",
    "table_counts",
    "rows_to_copy_csv",
    "create_table_ddl",
    "pg_type_for",
]
