"""Postgres connection options — the reference's storage target.

The reference bulk-loads via pgfutter, a Go wrapper around Postgres
``COPY`` (Dockerfile:1-10,26). This port writes through the
wire-protocol COPY sink (``sources/copy_sink.py``) and runs hooks and
row-count reads over the same client (``sources/pgwire.py``).
``DbOptions`` holds the connection settings every one of those steps
shares, with the reference's env-var fallback.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


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
