"""Sources & sinks: CSV (all-text reference semantics), zip archives,
parquet analytics tables, and the COPY-protocol Postgres sink
(``copy_sink`` over ``pgwire``)."""

from .csv import read_csv_all_text, read_csv_group
from .zips import extract_zips
from .parquet import load_tables, TABLES

__all__ = [
    "read_csv_all_text",
    "read_csv_group",
    "extract_zips",
    "load_tables",
    "TABLES",
]
