"""JDBC (PostgreSQL) sink options and writer — the reference's storage target.

The reference bulk-loads via pgfutter, a Go wrapper around Postgres
``COPY`` (Dockerfile:1-10,26). The pipeline's DEFAULT Postgres path is
the wire-protocol COPY sink (``sources/copy_sink.py`` — pgfutter-class
throughput, live-tested in ``tests/test_postgres_live.py``); this JDBC
module is the ``db_protocol="jdbc"`` alternative for clusters where the
driver jar is on the classpath. It approaches COPY throughput with
``reWriteBatchedInserts=true`` + large ``batchsize`` + one writing
partition per executor core (SURVEY §4.3).

``DbOptions`` (connection settings with the reference's env-var
fallback) is shared by both Postgres paths; ``write_table`` is the JDBC
write behind ``db_protocol="jdbc"``. Row-count reads and sink-side SQL
use the COPY sink's wire-protocol client (``copy_sink.table_counts``,
``copy_sink.execute_sql``).

No JDBC driver jar ships in this container, so this module is exercised
by unit tests only up to URL/property construction.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class DbOptions:
    """Connection options with env-var fallback (reference cli.py:122-127:
    DB_NAME, DB_HOST, DB_PORT, DB_USER, DB_PASSWORD; CLI wins over env)."""

    database: str | None = None
    host: str | None = None
    port: str | None = None
    user: str | None = None
    password: str | None = field(default=None, repr=False)

    def __post_init__(self) -> None:
        self.database = self.database or os.environ.get("DB_NAME")
        self.host = self.host or os.environ.get("DB_HOST", "localhost")
        self.port = self.port or os.environ.get("DB_PORT", "5432")
        self.user = self.user or os.environ.get("DB_USER")
        self.password = self.password or os.environ.get("DB_PASSWORD")

    @property
    def url(self) -> str:
        return f"jdbc:postgresql://{self.host}:{self.port}/{self.database}"

    @property
    def properties(self) -> dict[str, str]:
        props = {
            "driver": "org.postgresql.Driver",
            # COPY-class write throughput over JDBC:
            "reWriteBatchedInserts": "true",
            "batchsize": "10000",
        }
        if self.user:
            props["user"] = self.user
        if self.password:
            props["password"] = self.password
        return props


def write_table(
    df: DataFrame,
    db: DbOptions,
    table: str,
    mode: str = "overwrite",
    num_partitions: int | None = None,
) -> None:
    """Write a DataFrame to ``import.<table>`` (reference schema namespace).

    ``num_partitions`` bounds concurrent connections; default leaves the
    DataFrame's partitioning alone so each core streams its own batch.
    """
    out = df.repartition(num_partitions) if num_partitions else df
    out.write.jdbc(db.url, f'import."{table}"', mode=mode, properties=db.properties)
