"""COPY-protocol Postgres sink (the pgfutter-class fast path).

The reference's loader is pgfutter, a Go wrapper over Postgres ``COPY``
(reference Dockerfile:1-10,26; invocation main.py:491-542) — the
COPY protocol is the fast bulk path, typically several times quicker
than JDBC INSERT batches. This module provides the same class of
throughput from Spark with zero non-stdlib dependencies: each partition
opens one wire-protocol connection (``sources/pgwire.py``) and streams
its rows through ``COPY ... FROM STDIN (FORMAT csv)``.

Scale posture: the write is embarrassingly parallel and introduces no
shuffle; each non-empty partition opens one backend connection, so a
very wide frame should be coalesced by its caller to bound connection
fan-in. Each task writes in ONE transaction (``BEGIN``, one ``COPY``
per contiguous run of rows from one input file, ``COMMIT``), which may
cover several files when a routed write packs them into one task: a
failed task commits nothing, so Spark's task retry is safe; with
speculative execution enabled, use ``mode="append"`` into a staging
table instead.

The pipeline (``Loader.write_sink``) writes its tables concurrently
from a driver thread pool. Every member table of a checked prefix
group is written by ONE ``copy_write`` over the group's combined view
(one scan, one Spark job), with a ``{file path: table}`` mapping that
routes each row to its file's table; a failed group write falls back
to one ``copy_write`` per member view, so one bad file fails only its
own table. The pipeline creates the target schema once with
``ensure_schema`` before that fan-out; ``ensure_schema`` also tolerates
concurrent callers, so standalone concurrent ``copy_write`` calls into
a fresh database work too. A prefix-combined table whose members all
landed in the same run is built inside Postgres by ``combine_tables``
(``CREATE TABLE ... AS SELECT * FROM m1 UNION ALL ...``, the
reference's own combine, main.py:215-248) instead of COPYing the same
rows a second time. Every view takes its columns from its file's
header, and every member header was checked equal to the first before
the combined view existed, at any group size, so the positional union
lines up by construction. The pipeline falls back to ``copy_write``
from the CSV-backed combined view when a member is missing, stale or
failed, when two member files share one stem, or when the server-side
combine fails.

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
    df: DataFrame, table: str, schema: str = "import"
) -> str:
    cols = ", ".join(
        f"{quote_ident(f.name)} {pg_type_for(f.dataType)}"
        for f in df.schema.fields
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
    table: str | Mapping[str, str],
    mode: str = "overwrite",
    schema: str = "import",
) -> None:
    """Stream a DataFrame into Postgres via COPY, one connection and one
    transaction per partition.

    ``table`` is one table name, or a ``{file path: table}`` mapping:
    each row then goes to the table of the CSV file it was read from
    (``F.input_file_name()``, matched to the mapping's paths through
    :func:`naming.uri_path_keys`), so one scan writes every member table
    of a prefix group. A row whose file is not in the mapping fails its
    task; it is never dropped. One name is the case where every row
    goes to one table.

    ``mode``: ``overwrite`` drops + recreates every target table from
    the DataFrame schema, in one Query on the driver before the job;
    ``append`` requires them to exist. Each task opens one connection
    and runs one ``COPY`` per contiguous run of rows from one file
    inside ``BEGIN … COMMIT``, so a failed task commits nothing and a
    Spark retry is safe.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append: {mode}")
    n_cols = len(df.columns)
    if isinstance(table, str):
        tables, routes = [table], {}
        rows_df, file_of = df, (lambda row: None)
    else:
        tables = sorted(set(table.values()))
        routes = {os.path.abspath(p): t for p, t in table.items()}
        for p, t in table.items():
            routes.setdefault(os.path.realpath(p), t)
        # the file URI rides after the data columns; the encoder reads
        # the first n_cols fields by position, so it never writes it
        rows_df = df.select("*", F.input_file_name())
        file_of = itemgetter(n_cols)
    with connect(db) as conn:
        ensure_schema(conn, schema)
        if mode == "overwrite":
            conn.query(
                "; ".join(
                    f"DROP TABLE IF EXISTS {qualified(t, schema)}; "
                    + create_table_ddl(df, t, schema)
                    for t in tables
                )
            )

    host = db.host or "localhost"
    port = db.port or 5432
    database = db.database or "postgres"
    user = db.user or "postgres"
    password = db.password

    def _target(uri: str | None) -> str:
        if uri is None:
            return qualified(table, schema)
        lexical, real = uri_path_keys(uri)
        t = routes.get(lexical) or routes.get(real)
        if t is None:
            raise KeyError(f"no target table for input file {uri!r}")
        return qualified(t, schema)

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
                pc.copy_in(
                    f"COPY {_target(uri)} FROM STDIN (FORMAT csv, NULL '')",
                    rows_to_copy_csv(run, n_cols),
                )
            pc.query("COMMIT")

    rows_df.foreachPartition(_write_partition)


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
