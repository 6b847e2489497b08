"""Row-count reconciliation (reference ``post_load_check``, main.py:250-306).

The reference compares `wc -l` CSV counts against per-table
``SELECT count(*)`` and prints a PrettyTable; FATAL log if the summed
absolute difference exceeds 100 (hard-coded).

Engine version: counts both sides with Spark (distributed jobs, not
one subprocess per file) and returns the report as a DataFrame. The
CSV side counts *data rows* by parsing each file with the loader's own
dialect (:func:`csv_file_counts`, also behind the csvcount CLI), where
`wc -l` counted raw lines including the header: the reference's fast
line count and its precise ``csv.reader`` count are one path here, so
quoted embedded newlines, blank lines and UTF-16 dumps count as they
load (FIXTURES.md §5).
"""

from __future__ import annotations

import logging
from pathlib import Path

from pyspark.sql import DataFrame, Row, SparkSession

from .naming import import_view_name

log = logging.getLogger(__name__)


def uri_count_map(pairs) -> dict[str, int]:
    """(input_file_name URI, count) pairs -> {path: count} keyed under
    both the lexical absolute path (Hadoop's qualification does NOT
    resolve symlinks) and the real path (in case one side went through
    a symlinked component), so driver-side lookups can't silently miss
    and report 0. input_file_name is a %XX-encoded URI; unquote (NOT
    form-decoding: '+' must stay '+') the path part so it matches the
    driver-side Path exactly."""
    import os
    from urllib.parse import unquote, urlparse

    def _norm(uri: str) -> str:
        p = urlparse(uri)
        return unquote(p.path) if p.scheme else unquote(uri)

    per_file: dict[str, int] = {}
    for uri, n in pairs:
        path = _norm(uri)
        per_file[os.path.abspath(path)] = n
        per_file.setdefault(os.path.realpath(path), n)
    return per_file


def lookup_file_count(per_file: dict[str, int], f: Path | str) -> int:
    """Count for ``f`` under either path key (0 when the file produced
    no rows — e.g. zero-byte files never reach the grouped scan)."""
    import os

    return per_file.get(
        os.path.abspath(str(f)),
        per_file.get(os.path.realpath(str(f)), 0),
    )


def csv_file_counts(
    spark: SparkSession, files: list[str | Path], multiline: bool = True
) -> dict[str, int]:
    """Data rows per CSV file, ``{str(path): rows}``: the package's one
    CSV row counter (reconciliation and the csvcount CLI).

    Each file's encoding is sniffed from its head through the shared
    ``_probe_heads`` prober (one distributed job for 64+ files), and
    each encoding's files are parsed in ONE ``header=false`` scan with
    the loader's dialect, grouped by ``input_file_name``; one header
    record is subtracted per file. Parsing, not line counting, is what
    makes the count match the load: quoted embedded newlines, blank
    lines and UTF-16 text count as the loader reads them. A header=true
    multi-path read would merge by position and lose per-file identity,
    so the header is counted and subtracted instead. The scan's schema
    is pinned to one string column, so Spark runs no schema-inference
    job. ``multiline`` follows the load (``csv_multiline``): False keeps
    the scan splittable within files. Zero-byte files give 0."""
    from pyspark.sql import functions as F

    from .sources.csv import _encoding_of, _probe_heads, csv_dialect

    keys = sorted({str(f) for f in files})
    by_enc: dict[str, list[str]] = {}
    for f, enc in _probe_heads(spark, keys, _encoding_of).items():
        by_enc.setdefault(enc or "UTF-8", []).append(f)
    per_file: dict[str, int] = {}
    for enc, group in by_enc.items():
        reader = spark.read.schema("_c0 string").option("header", "false")
        counts = (
            csv_dialect(reader, multiline, enc)
            .csv(group)
            .groupBy(F.input_file_name().alias("file"))
            .agg(F.count("*").alias("n"))
            .collect()
        )
        per_file.update(uri_count_map((r.file, r.n) for r in counts))
    return {k: max(lookup_file_count(per_file, k) - 1, 0) for k in keys}


def csv_row_counts(
    spark: SparkSession,
    table_csv_files: dict[str, list[Path]],
    multiline: bool = True,
) -> dict[str, int]:
    """Data rows per combined table: :func:`csv_file_counts` over every
    file at once (one scan per encoding, not one job per prefix group),
    summed per table on the driver from the discovery grouping (a
    per-file mapping; deriving the table row-side would run the naming
    regex chain once per row)."""
    per_file = csv_file_counts(
        spark, [f for fs in table_csv_files.values() for f in fs], multiline
    )
    return {
        table: sum(per_file[str(f)] for f in files)
        for table, files in table_csv_files.items()
    }


def db_row_counts(
    spark: SparkSession,
    tables: list[str],
    sink_dir: Path | None = None,
    written_views: set[str] | None = None,
) -> dict[str, int]:
    """count(*) per import view (O5). Missing views count as 0 — the
    reference's check tolerates missing tables by reporting the diff.

    With ``sink_dir`` (Spark-native parquet sink), the count comes from
    the MATERIALIZED sink, not the lazy CSV-backed view — the
    reference's actual contract (it SELECTed count(*) from the import
    schema the load had just written, main.py:250-306), and a parquet
    count is footer metadata instead of a full CSV re-parse.

    ``written_views`` (the pipeline's per-run write record) gates which
    sink directories are trusted: a directory left behind by a PREVIOUS
    run must not stand in for a write that failed THIS run — those
    tables fall back to the live view, so a failed write surfaces in
    the reconciliation diff instead of passing against stale rows."""
    out = {}
    for t in tables:
        view = import_view_name(t)
        try:
            trust_sink = (
                sink_dir is not None
                and (sink_dir / view).exists()
                and (written_views is None or view in written_views)
            )
            if trust_sink:
                out[t] = spark.read.parquet(str(sink_dir / view)).count()
            else:
                out[t] = spark.table(view).count()
        except Exception:  # noqa: BLE001
            out[t] = 0
    return out


def reconciliation_report(
    spark: SparkSession,
    table_csv_files: dict[str, list[Path]],
    tolerance: int = 100,
    db=None,
    sink_dir: Path | None = None,
    written_views: set[str] | None = None,
    csv_counts: dict[str, int] | None = None,
) -> tuple[DataFrame, bool, dict[str, int]]:
    """Build the reconciliation report (reference report columns,
    main.py:263-299) and evaluate the tolerance gate (main.py:301-302).

    With ``db`` (DbOptions), the DB side counts come from the sink
    Postgres itself — the reference's actual contract (it SELECTed
    count(*) from the import schema, main.py:250-306); otherwise from
    the session's import views. ``csv_counts`` (r14) lets the pipeline
    pass a count it started concurrently with the sink writes (guide
    §2.6) — same ``csv_row_counts`` job, same values, just overlapped."""
    if csv_counts is None:
        csv_counts = csv_row_counts(spark, table_csv_files)
    if db is not None:
        from .sources.copy_sink import table_counts

        db_counts = table_counts(db, list(table_csv_files))
    else:
        db_counts = db_row_counts(
            spark,
            list(table_csv_files),
            sink_dir=sink_dir,
            written_views=written_views,
        )

    rows = [
        Row(
            table=t,
            csv_files=len(files),
            csv_rows=csv_counts[t],
            db_rows=db_counts[t],
            difference=abs(csv_counts[t] - db_counts[t]),
        )
        for t, files in sorted(table_csv_files.items())
    ]
    report = spark.createDataFrame(rows)
    total_diff = sum(r.difference for r in rows)
    passed = total_diff <= tolerance
    if not passed:
        log.fatal(
            "reconciliation failed: total difference %d > %d",
            total_diff,
            tolerance,
        )
    return report, passed, csv_counts
