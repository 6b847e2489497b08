"""The 6-stage load pipeline (reference ``Loader.load``, main.py:308-374).

Stages (reference order preserved):

  0. pre-load SQL hooks
  1. unzip archives (idempotent skip unless ``--all``)
  2. discover CSVs -> exclude-regex -> per-file header checks ->
     (Postgres sink: one routed write of every per-file table starts)
     -> per-file import views -> install function library -> optional
     prefix combine -> sink
  3. post-load SQL hooks
  4. CSV row counting
  5. count reconciliation report (FATAL log if sum of diffs > tolerance)

The "IR" here is the stage DAG in driver Python (as in the reference);
every data-touching step is a declarative DataFrame lineage that Catalyst
plans. Per-file/per-group failures log and continue (reference
main.py:376-404 semantics), never aborting the whole run.
"""

from __future__ import annotations

import logging
import re
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig
from .discovery import discover_csvs, discover_zips
from .functions import register_all
from .naming import file_table_name, import_view_name
from .reconcile import reconciliation_report
from .sources.csv import checked_schema, read_csv_all_text
from .sources.csv import read_csv_group, read_csv_routed

log = logging.getLogger(__name__)


@dataclass
class LoadResult:
    file_views: dict[str, DataFrame] = field(default_factory=dict)
    combined_views: dict[str, DataFrame] = field(default_factory=dict)
    table_csv_files: dict[str, list[Path]] = field(default_factory=dict)
    csv_counts: dict[str, int] = field(default_factory=dict)
    report: DataFrame | None = None
    check_passed: bool = True
    # Views whose sink write SUCCEEDED this run (a parquet directory or
    # a Postgres table). Reconciliation only trusts a parquet directory
    # listed here, and a combined table is built from its member tables
    # only when every member is listed — a table left by a previous run
    # must not stand in for rows this run failed to write.
    sink_written: set[str] = field(default_factory=set)


def _sql_scripts(paths: list[Path]) -> list[Path]:
    """Expand hook paths: files kept as-is, dirs searched recursively for
    *.sql (reference utils.files_in, utils.py:20-26)."""
    out: list[Path] = []
    for p in paths:
        if p.is_file():
            out.append(p)
        elif p.is_dir():
            out.extend(sorted(p.rglob("*.sql")))
    return out


_DOLLAR_TAG = re.compile(r"\$[A-Za-z_][A-Za-z0-9_]*\$|\$\$")


def split_sql_statements(text: str) -> list[str]:
    """Split a SQL script on ``;`` respecting single/double-quoted
    strings (with doubled-quote escapes), ``--`` line comments, and
    Postgres dollar-quoted regions (``$$...$$`` / ``$tag$...$tag$``) —
    psql-style, so literals and function bodies containing semicolons
    survive (reference hooks run through psql, exec.py:97-131)."""
    stmts: list[str] = []
    buf: list[str] = []
    quote: str | None = None
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if quote:
            buf.append(ch)
            if ch == quote:
                if i + 1 < n and text[i + 1] == quote:  # escaped ''/""
                    buf.append(text[i + 1])
                    i += 1
                else:
                    quote = None
        elif ch in ("'", '"'):
            quote = ch
            buf.append(ch)
        elif ch == "$":
            m = _DOLLAR_TAG.match(text, i)
            if m:
                tag = m.group(0)
                end = text.find(tag, m.end())
                stop = (end + len(tag)) if end != -1 else n
                buf.append(text[i:stop])
                i = stop
                continue
            buf.append(ch)
        elif ch == "-" and i + 1 < n and text[i + 1] == "-":
            while i < n and text[i] != "\n":
                i += 1
            continue
        elif ch == ";":
            stmts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    stmts.append("".join(buf))
    return [s.strip() for s in stmts if s.strip()]


def _run_hook_scripts(scripts: list[Path], session, label: str) -> None:
    """The hook statement loop behind both runners. ``session()`` is a
    context manager yielding a one-statement executor. An unreadable
    script, a failing statement and a failed session are each logged
    and the run continues; a failing statement does not stop the rest
    of its script (psql's default, and the reference's log-and-continue
    semantics)."""
    for script in scripts:
        try:
            statements = split_sql_statements(script.read_text())
        except Exception:  # noqa: BLE001
            log.exception("hook script unreadable: %s", script)
            continue
        try:
            with session() as execute:
                for stmt in statements:
                    try:
                        execute(stmt)
                    except Exception:  # noqa: BLE001
                        log.exception(
                            "%s statement failed (continuing): %s: %.80s",
                            label,
                            script,
                            stmt,
                        )
        except Exception:  # noqa: BLE001
            log.exception("%s connection failed: %s", label, script)


def run_sql_hooks(spark: SparkSession, scripts: list[Path]) -> None:
    """Execute hook SQL against the session catalog (engine-native mode).

    Reference exec.py:97-131 pipes scripts through psql; here each
    statement (quote-aware split) runs through ``spark.sql``."""
    _run_hook_scripts(scripts, lambda: nullcontext(spark.sql), "hook")


def run_sql_hooks_db(db, scripts: list[Path]) -> None:
    """Execute hook SQL against the sink Postgres (reference
    exec.py:97-131 piped scripts through psql): one wire-protocol
    connection per script, one statement per Query, each autocommitted
    as psql does by default."""
    from .sources.pgwire import connect

    @contextmanager
    def session():
        with connect(db) as conn:
            yield conn.query

    _run_hook_scripts(scripts, session, "sink hook")


def _background(fn, *args) -> Future:
    """``fn(*args)`` on a driver thread of its own."""
    pool = ThreadPoolExecutor(max_workers=1, thread_name_prefix=fn.__name__)
    try:
        return pool.submit(fn, *args)
    finally:
        pool.shutdown(wait=False)


class Loader:
    """Spark-native counterpart of reference ``Loader`` (main.py:28-404)."""

    def __init__(self, spark: SparkSession, config: PipelineConfig):
        self.spark = spark
        self.config = config

    def load(self) -> LoadResult:
        """The stages in the reference's order (module docstring). The
        CSV row count and (Postgres sink) the routed write of every
        checked file's table (:meth:`_write_files`) run on driver
        threads while this one builds the views and installs the
        functions; the write is waited for even if those steps raise."""
        cfg = self.config
        result = LoadResult()

        # Step 0: pre-load hooks (main.py:312-329). With a Postgres
        # sink they run against the DB (reference semantics: psql);
        # engine-native runs use spark.sql.
        self._run_hooks(cfg.pre_load)

        # Step 1: unzip (main.py:331-332). Reference gate:
        # `disable_unzip and not all` — --all overrides the toggle.
        if not cfg.disable_unzip or cfg.process_all:
            from .sources.zips import extract_zips

            extract_zips(discover_zips(cfg.sources, cfg.process_all))

        # Discovery always runs (reference step2_import computes the
        # grouping even when loading is disabled, so the reconciliation
        # check still has its file list).
        d = discover_csvs(cfg.sources, cfg.exclude_regex)
        result.table_csv_files = d.table_csv_files

        # The reconciliation's CSV row count reads only the raw dump
        # files, so it starts NOW on a driver thread and back-fills the
        # executors the other steps leave idle; it is joined at the
        # report. It parses as the load does (csv_multiline included).
        # The DB-side count reads the sink, so it waits for write_sink.
        csv_counts_async = None
        if not cfg.disable_check and result.table_csv_files:
            # looked up at call time: benchmark/tracing.py rebinds it
            from .reconcile import csv_row_counts

            csv_counts_async = _background(
                csv_row_counts,
                self.spark,
                result.table_csv_files,
                cfg.csv_multiline,
            )

        # Step 2: import (main.py:334-335 -> 171-213); --all overrides.
        # Only the per-file LOAD is gated — function installation and
        # combine run unconditionally in the reference (main.py:195-213:
        # the disable gate wraps import_data alone).
        importing = not cfg.disable_import or cfg.process_all
        # Each file's header is checked ONCE (driver-side, no Spark
        # job); the routed write and the views both follow this
        # {view: (file, schema)}: a later readable file of one stem wins.
        heads: dict[str, bytes | None] = {}
        checked = {}
        if importing:
            for f in d.dump_files:
                try:
                    schema = checked_schema(
                        self.spark, [f], cfg.csv_multiline, heads
                    )
                except Exception:  # noqa: BLE001
                    log.exception("import failed: %s", f)
                    continue
                checked[import_view_name(file_table_name(f))] = (f, schema)

        files_written = None
        if cfg.db is not None and checked:
            routes = {
                str(f): (file_table_name(f), schema.names)
                for f, schema in checked.values()
            }
            files_written = _background(self._write_files, routes, heads)
        try:
            for view, (f, schema) in checked.items():
                try:
                    df = read_csv_all_text(
                        self.spark, f, cfg.csv_multiline, heads, schema
                    )
                    df.createOrReplaceTempView(view)
                    result.file_views[view] = df
                except Exception:  # noqa: BLE001
                    log.exception("import failed: %s", f)

            # install packaged function library (main.py:202-208)
            register_all(self.spark)

            # combine (main.py:210-248)
            if cfg.combine_tables:
                self._combine(d.table_csv_files, result, heads)
        finally:
            # a load that fails here still waits for the write it began
            written: set[str] = set()
            if files_written is not None:
                try:
                    written = files_written.result()
                except Exception:  # noqa: BLE001 - each file on its own
                    log.exception("routed per-file write failed")

        # Step 2.5: materialize to the sink BEFORE post-hooks/check —
        # the reference loads into Postgres during import (pgfutter,
        # main.py:491-542), so its post-load hooks and reconciliation
        # see the data in the DB.
        if cfg.db is not None or cfg.sink_dir is not None:
            self.write_sink(result, written)

        # Step 3: post-load hooks (main.py:337-356)
        self._run_hooks(cfg.post_load)

        # Steps 4+5: counts + reconciliation (main.py:358-369); with a
        # Postgres sink the DB side counts come from the sink itself.
        if not cfg.disable_check and result.table_csv_files:
            report, passed, csv_counts = reconciliation_report(
                self.spark,
                result.table_csv_files,
                tolerance=cfg.check_tolerance,
                db=cfg.db,
                sink_dir=cfg.sink_dir,
                written_views=(
                    result.sink_written if cfg.sink_dir is not None else None
                ),
                csv_counts=(
                    csv_counts_async.result()
                    if csv_counts_async is not None
                    else None
                ),
            )
            result.report = report
            result.check_passed = passed
            result.csv_counts = csv_counts

        return result

    def _run_hooks(self, paths: list[Path]) -> None:
        scripts = _sql_scripts(paths)
        if self.config.db is not None:
            run_sql_hooks_db(self.config.db, scripts)
        else:
            run_sql_hooks(self.spark, scripts)

    def _combine(
        self, groups: dict[str, list[Path]], result: LoadResult, heads=None
    ) -> None:
        """Prefix combine (O1). Skips groups whose combined name collides
        with a member file's table name (reference main.py:222-226);
        a schema mismatch or an unreadable member header fails the
        group, logged, others continue."""
        for table, files in groups.items():
            member_names = {file_table_name(f) for f in files}
            # reference skips whenever the prefix equals ANY member table
            # name, including single-file groups (main.py:222-226)
            if table in member_names:
                log.warning(
                    "skipping combine for %s: collides with member table",
                    table,
                )
                continue
            try:
                df = read_csv_group(
                    self.spark,
                    files,
                    multiline=self.config.csv_multiline,
                    _heads=heads,
                )
                view = import_view_name(table)
                df.createOrReplaceTempView(view)
                result.combined_views[view] = df
            except Exception:  # noqa: BLE001
                log.exception("combine failed for table %s", table)

    def write_sink(
        self, result: LoadResult, written: set[str] = frozenset()
    ) -> None:
        """Materialize import views to the configured sink.

        Per-file tables: ``load`` passes ``written``, the views whose
        tables the ONE routed ``copy_write`` of the import
        (:meth:`_write_files`, started after the header checks) wrote.
        Every other view (all of them if it failed, or without it, as
        on the parquet sink) is written from its own per-file scan, as
        the reference ran one pgfutter process per file, so one bad
        file fails only its own table.

        Combined tables: every view takes its columns from its file's
        header, checked equal across a group by ``read_csv_group``, so a
        combined table is built from its members when every member was
        written THIS run (``sink_written``; a stale or failed table must
        not stand in for this run's rows) and no two share a stem:
        inside Postgres by ``CREATE TABLE ... AS SELECT * FROM m1 UNION
        ALL ...`` (the reference's own combine, main.py:215-248), or
        from the members' parquet (-38% on the sf1 ingest spine). Else,
        or if that fails, it is written from its CSV-backed view.

        Writes run on driver threads; each combined table waits only
        for its own members. Per-table failures are logged and the
        other tables continue (reference main.py:376-404)."""
        cfg = self.config
        if cfg.db is not None:
            write_view, combine = self._postgres_steps()
        elif cfg.sink_dir is not None:
            write_view, combine = self._parquet_steps()
        else:
            return

        def _write_one(view: str, df: DataFrame) -> None:
            try:
                write_view(view, df)
            except Exception:  # noqa: BLE001 - log-and-continue
                log.exception("sink write failed for %s", view)
                return
            result.sink_written.add(view)

        def _write_combined(view: str, csv_df: DataFrame) -> None:
            table = view.removeprefix("import_")
            files = result.table_csv_files.get(table, [])
            ms = [import_view_name(file_table_name(f)) for f in files]
            for m in ms:
                fut = file_futures.get(m)
                if fut is not None:
                    fut.result()
            # two files with one stem (in different directories) share
            # one member table, which holds only one of them
            if (
                ms
                and len(set(ms)) == len(ms)
                and all(m in result.sink_written for m in ms)
            ):
                try:
                    combine(view, ms, csv_df)
                    result.sink_written.add(view)
                    return
                except Exception:  # noqa: BLE001 - fall back below
                    log.exception(
                        "combine from members failed for %s; writing "
                        "from the CSV-backed view",
                        view,
                    )
            _write_one(view, csv_df)

        result.sink_written.update(written)
        with ThreadPoolExecutor(max_workers=16) as pool:
            file_futures = {
                view: pool.submit(_write_one, view, df)
                for view, df in result.file_views.items()
                if view not in written
            }
            combined_futures = [
                pool.submit(_write_combined, view, df)
                for view, df in result.combined_views.items()
            ]
            for fut in [*file_futures.values(), *combined_futures]:
                fut.result()

    def _write_files(self, routes: dict, heads: dict) -> set[str]:
        """ONE routed ``copy_write`` (one Spark job) of every ``{file
        path: (table, columns)}`` into Postgres over ``read_csv_routed``.
        Returns the views written; raises, leaving no table, on failure."""
        from .sources import copy_sink

        multiline = self.config.csv_multiline
        df = read_csv_routed(self.spark, routes, multiline, heads)
        copy_sink.copy_write(df, self.config.db, routes)
        return {import_view_name(t) for t, _ in routes.values()}

    def _postgres_steps(self):
        """(write one view, combine from members) for the Postgres
        sink."""
        db = self.config.db
        from .sources import copy_sink

        def write_copy(view: str, df: DataFrame) -> None:
            copy_sink.copy_write(df, db, view.removeprefix("import_"))

        def combine_in_db(
            view: str, members: list[str], csv_df: DataFrame
        ) -> None:
            """The positional UNION ALL of the member tables, whose
            columns are their checked-equal headers (``write_sink``)."""
            copy_sink.combine_tables(
                db,
                view.removeprefix("import_"),
                [m.removeprefix("import_") for m in members],
            )

        return write_copy, combine_in_db

    def _parquet_steps(self):
        """(write one view, combine from members) for the parquet
        sink."""
        cfg = self.config

        def write_parquet(view: str, df: DataFrame) -> None:
            df.write.mode("overwrite").parquet(str(cfg.sink_dir / view))
            # Bucketed CTAS: additionally persist views carrying all
            # bucket columns as bucketed+sorted catalog tables, so
            # downstream joins/aggs on the key are exchange-free — the
            # shuffle is paid ONCE here, not per query.
            if cfg.bucket_by and set(cfg.bucket_by) <= set(df.columns):
                from .operators.bucketing import write_bucketed

                try:
                    write_bucketed(
                        df,
                        f"{view}_bucketed",
                        bucket_cols=list(cfg.bucket_by),
                        num_buckets=cfg.bucket_count,
                        path=str(cfg.sink_dir / f"{view}_bucketed"),
                    )
                except Exception:  # noqa: BLE001
                    log.exception("bucketed sink failed for %s", view)

        def combine_from_parquet(
            view: str, members: list[str], csv_df: DataFrame
        ) -> None:
            # Member parquet columns are their files' checked-equal
            # headers (see combine_in_db), so one multi-path scan, not
            # an O(members) unionByName fold; the select pins the order.
            paths = [str(cfg.sink_dir / m) for m in members]
            write_parquet(
                view, self.spark.read.parquet(*paths).select(*csv_df.columns)
            )

        return write_parquet, combine_from_parquet


def run_pipeline(
    spark: SparkSession, config: PipelineConfig
) -> LoadResult:
    loader = Loader(spark, config)
    # load() writes the sink itself (step 2.5) so that post-load hooks
    # and the reconciliation check observe the sink state, exactly like
    # the reference's psql-hooks-after-pgfutter ordering.
    return loader.load()
