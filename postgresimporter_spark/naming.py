"""Filename sanitization and table-name derivation.

Re-implements the reference's naming contract (behavior pinned by
reference tests ``tests/test_load.py:38-71``):

- ``to_filename`` (reference ``utils.py:69-81``): transliterate German
  umlauts (ss/ae/oe/ue), map ``.`` to ``_``, NFKD-fold to ASCII, strip
  non-word chars, collapse ``-``/whitespace runs to ``_``.
- ``table_name_for_path`` (reference ``utils.py:84-88``): the sanitized
  stem's first ``_``-token. ``running_jan19.csv -> running``,
  ``example.test.csv -> example``.

These are driver-side pure functions (they name tables, not rows); a
row-level Catalyst variant is provided for distributed path handling.
"""

from __future__ import annotations

import os
import re
import unicodedata
from pathlib import Path, PurePath
from urllib.parse import unquote, urlparse

from pyspark.sql import Column
from pyspark.sql import functions as F

_UMLAUTS = {"ß": "ss", "ä": "ae", "ö": "oe", "ü": "ue"}


def to_filename(title: str) -> str:
    """Sanitize an arbitrary string into a safe table/file identifier."""
    out = str(title)
    for ch, repl in _UMLAUTS.items():
        out = out.replace(ch, repl)
    out = out.replace(".", "_")
    out = unicodedata.normalize("NFKD", out).encode("ascii", errors="ignore").decode()
    out = re.sub(r"[^\w\s-]", "", out).strip()
    out = re.sub(r"[-\s]+", "_", out)
    return out


def table_name_for_path(file_path: str | PurePath) -> str:
    """Combined-table (prefix) name for a source file path."""
    stem = PurePath(file_path).stem
    return to_filename(stem).split("_")[0]


def file_table_name(file_path: str | PurePath) -> str:
    """Per-file table name: the full sanitized stem (pgfutter behavior)."""
    return to_filename(PurePath(file_path).stem)


def import_view_name(table: str) -> str:
    """Catalog name for an ingested table.

    Reference loads into the Postgres schema ``import`` (README.md:51-53);
    Spark temp views have no schema namespace, so the ``import`` schema
    becomes a name prefix.
    """
    return f"import_{table}"


def uri_path_keys(uri: str) -> tuple[str, str]:
    """The lexical absolute path and the real path of the file that a
    ``F.input_file_name()`` URI names, the two keys under which a
    driver-side path is matched to Spark's per-row file identity.

    The URI's path is %XX-encoded: it is unquoted, NOT form-decoded
    (``+`` must stay ``+``), so it equals the driver-side path exactly.
    Hadoop's qualification does not resolve symlinks, so the lexical
    path matches a driver path taken through the same symlinked
    component, and the real path matches one taken around it."""
    p = urlparse(uri)
    path = unquote(p.path) if p.scheme else unquote(uri)
    return os.path.abspath(path), os.path.realpath(path)


def to_filename_col(col: Column) -> Column:
    """Row-level Catalyst equivalent of :func:`to_filename`.

    Used when path metadata rides along as a column (e.g. over
    ``F.input_file_name()``); stays inside codegen — no Python UDF.
    NFKD folding is approximated by the umlaut map + non-word strip, which
    matches the reference for its pinned goldens (ASCII + German input).
    """
    out = col
    for ch, repl in _UMLAUTS.items():
        out = F.replace(out, F.lit(ch), F.lit(repl))
    out = F.replace(out, F.lit("."), F.lit("_"))
    out = F.regexp_replace(out, r"[^\w\s-]", "")
    out = F.trim(out)
    return F.regexp_replace(out, r"[-\s]+", "_")


def table_name_for_path_col(path_col: Column) -> Column:
    """Row-level: combined-table name from a full path column."""
    stem = F.regexp_replace(
        F.element_at(F.split(path_col, "/"), -1), r"\.[^.]*$", ""
    )
    return F.split(to_filename_col(stem), "_").getItem(0)


__all__ = [
    "to_filename",
    "table_name_for_path",
    "file_table_name",
    "import_view_name",
    "uri_path_keys",
    "to_filename_col",
    "table_name_for_path_col",
]
