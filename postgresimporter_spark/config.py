"""Pipeline configuration mirroring the reference CLI surface (cli.py:7-128).

Flags map 1:1:

- ``sources``            positional dirs/.zip/.csv paths
- ``--exclude-regex``    stem filter (anchored match)
- ``--pre-load/--post-load`` SQL hook files or dirs
- ``--combine-tables``   prefix UNION ALL combine
- ``--disable-unzip/--disable-import/--disable-check`` stage toggles
- ``--all``              reprocess everything (no idempotency skips)
- ``--log-level``
- db options             env fallback DB_NAME/DB_HOST/DB_PORT/DB_USER/DB_PASSWORD;
  a db flag or ``DB_NAME`` selects the Postgres sink (wire-protocol
  COPY, the reference's pgfutter load)

Beyond the reference: ``--sink-dir``/``--bucket-by``/``--bucket-count``
(parquet sink), ``--check-tolerance`` and ``--csv-no-multiline``.
"""

from __future__ import annotations

import argparse
from dataclasses import dataclass, field
from pathlib import Path

from .sources.jdbc import DbOptions


@dataclass
class PipelineConfig:
    sources: list[Path] = field(default_factory=list)
    exclude_regex: str | None = None
    pre_load: list[Path] = field(default_factory=list)
    post_load: list[Path] = field(default_factory=list)
    combine_tables: bool = False
    disable_unzip: bool = False
    disable_import: bool = False
    disable_check: bool = False
    process_all: bool = False
    check_tolerance: int = 100  # reference main.py:301-302 hard-codes 100
    log_level: str = "INFO"
    # Postgres sink: every table is written with COPY FROM STDIN over
    # the wire protocol, and hooks and row counts use the same client.
    db: DbOptions | None = None
    # Spark-native mode: materialize as temp views + optional parquet sink
    # instead of a database (no Postgres needed).
    sink_dir: Path | None = None
    # Bucketed sink (Spark-native mode only): views whose schema contains
    # all ``bucket_by`` columns are ALSO saved as bucketed+sorted catalog
    # tables (``<view>_bucketed``) — the shuffle is paid once at write
    # time, and every downstream join/agg on the bucket key plans with
    # no exchange on that side.
    bucket_by: list[str] = field(default_factory=list)
    bucket_count: int = 8
    # CSV splittability lever: multiLine=True (default) parses quoted
    # embedded newlines correctly but makes each CSV file ONE input
    # split — a 10 GB dump file is one task. When the caller asserts
    # the dump has no quoted newlines (the reference's own wc -l
    # fast-count assumption), csv_multiline=False restores Hadoop line
    # splitting: measured 3.7x on a single 435 MB file, growing with
    # file size. Data with quoted newlines under False mis-splits —
    # this is the caller's assertion, not a sniffed guess.
    csv_multiline: bool = True


def parse_args(argv: list[str] | None = None) -> PipelineConfig:
    p = argparse.ArgumentParser("postgresimporter-spark")
    p.add_argument("sources", nargs="+")
    p.add_argument("--exclude-regex", default=None)
    p.add_argument("--pre-load", action="append", default=[])
    p.add_argument("--post-load", action="append", default=[])
    p.add_argument("--combine-tables", action="store_true")
    p.add_argument("--disable-unzip", action="store_true")
    p.add_argument("--disable-import", action="store_true")
    p.add_argument("--disable-check", action="store_true")
    p.add_argument("--all", dest="process_all", action="store_true")
    p.add_argument("--check-tolerance", type=int, default=100)
    p.add_argument("--log-level", default="INFO")
    p.add_argument("--sink-dir", default=None)
    p.add_argument("--bucket-by", action="append", default=[])
    p.add_argument("--bucket-count", type=int, default=8)
    # caller's assertion that the dumps contain no quoted newlines
    p.add_argument(
        "--csv-no-multiline",
        dest="csv_multiline",
        action="store_false",
    )
    p.add_argument("--db-name", default=None)
    p.add_argument("--db-host", default=None)
    p.add_argument("--db-port", default=None)
    p.add_argument("--db-user", default=None)
    p.add_argument("--db-password", default=None)
    a = p.parse_args(argv)
    db = None
    # The sink activates only on an explicit target: a CLI db flag or the
    # DB_NAME env var (the reference always has a DB target, so env vars
    # are mere per-option fallbacks there, cli.py:122-127; here a stray
    # DB_HOST in the environment must not flip a Spark-native run into
    # Postgres writes against a server nobody asked for).
    import os

    if (
        a.db_name
        or a.db_host
        or a.db_port
        or a.db_user
        or a.db_password
        or os.environ.get("DB_NAME")
    ):
        db = DbOptions(
            database=a.db_name,
            host=a.db_host,
            port=a.db_port,
            user=a.db_user,
            password=a.db_password,
        )
    return PipelineConfig(
        sources=[Path(s) for s in a.sources],
        exclude_regex=a.exclude_regex,
        pre_load=[Path(s) for s in a.pre_load],
        post_load=[Path(s) for s in a.post_load],
        combine_tables=a.combine_tables,
        disable_unzip=a.disable_unzip,
        disable_import=a.disable_import,
        disable_check=a.disable_check,
        process_all=a.process_all,
        check_tolerance=a.check_tolerance,
        log_level=a.log_level,
        db=db,
        sink_dir=Path(a.sink_dir) if a.sink_dir else None,
        bucket_by=a.bucket_by,
        bucket_count=a.bucket_count,
        csv_multiline=a.csv_multiline,
    )
