"""Standalone CSV row counter (reference E3: ``python -m
postgresimporter.csvcount <source>`` prints ``{path: count}`` JSON,
csvcount.py:53-62).

Engine version: discovery plus the reconciliation's own counter,
:func:`reconcile.csv_file_counts`, so the CLI and the pipeline's check
report the same *data rows* (quoted newlines handled; the reference's
``wc -l`` fast path counted raw lines including the header — deviation
documented in FIXTURES.md §5).

Usage: ``python -m postgresimporter_spark.csvcount <dir-or-file>...``
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

from .discovery import discover_csvs
from .reconcile import csv_file_counts
from .session import get_spark


def count_sources(sources: list[str | Path]) -> dict[str, int]:
    """Data rows per discovered CSV file, ``{path: rows}``."""
    files = discover_csvs(sources).dump_files
    return csv_file_counts(get_spark(app_name="csvcount"), files)


def main(argv: list[str] | None = None) -> int:
    args = argv if argv is not None else sys.argv[1:]
    if not args:
        print("usage: python -m postgresimporter_spark.csvcount <source>...")
        return 1
    print(json.dumps(count_sources(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
