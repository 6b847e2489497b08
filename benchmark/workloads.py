"""The workloads: what one pass does, how its output is checked, and how
a traced pass folds into per-layer metrics.

Each workload drives the program only through its public API:
``pipeline.run_pipeline`` with a ``PipelineConfig`` for the ingest
workload, ``plans.registry()[name].fn`` for the catalog sweep.
Verification always runs after the pass's clock has stopped.
"""

from __future__ import annotations

import decimal
import json
import shutil
from pathlib import Path

import inputs
import tracing

BENCH_DIR = Path(__file__).resolve().parent


class Workload:
    name = ""
    warmup_passes = 1
    # the median of at least this many timed passes is reported
    min_passes = 4
    input_bytes = 0

    def prepare(self, spark, registry, run_dir: Path) -> None: ...

    def clear(self) -> None: ...

    def run_pass(self, spark):
        raise NotImplementedError

    def verify(self, result) -> tuple[int, list[str]]:
        """Return ``(operations attempted, failure messages)``."""
        raise NotImplementedError

    def close(self) -> None: ...

    def install_tracing(self, tracer) -> None:
        tracing.install(tracer)

    def trace_pass(self, tracer, pass_span, counters, result) -> dict[str, float]:
        """Per-layer metrics of one traced pass."""
        raise NotImplementedError


HOOK_SQL = """\
CREATE TABLE "import"."orders_typed" AS
SELECT o_orderkey::bigint AS o_orderkey,
       to_date(o_orderdate, 'DD-MON-YY') AS o_orderdate,
       o_totalprice::numeric(12, 2) AS o_totalprice,
       o_orderpriority
FROM "import"."orders";
"""
HOOK_COLUMNS = ["o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority"]


class IngestCopyBulk(Workload):
    """Few large CSVs (part of them in a zip archive), combined by
    prefix, COPY-loaded into Postgres, with one post-load typing hook
    and the row-count reconciliation."""

    name = "ingest_copy_bulk"

    def __init__(self, seed: int, cache: Path):
        self.corpus, self.expected = inputs.corpus(cache, self.name, seed)
        self.input_bytes = self.expected["input_bytes"]

    def prepare(self, spark, registry, run_dir):
        from pgserver import PgServer

        self.src = run_dir / "in"
        shutil.copytree(self.corpus, self.src)
        self.hook = run_dir / "hooks" / "type_orders.sql"
        self.hook.parent.mkdir()
        self.hook.write_text(HOOK_SQL)
        self.pg = PgServer(run_dir / "pg")
        self.db = self.pg.__enter__()

    def config(self):
        from postgresimporter_spark.config import PipelineConfig

        return PipelineConfig(
            sources=[self.src / "data"],
            combine_tables=True,
            process_all=True,  # re-extract the archive on every pass
            post_load=[self.hook],
            db=self.db,
        )

    def run_pass(self, spark):
        from postgresimporter_spark.pipeline import run_pipeline

        return run_pipeline(spark, self.config())

    def clear(self):
        from postgresimporter_spark.sources.pgwire import connect

        shutil.rmtree(self.src / "data" / "orders", ignore_errors=True)
        with connect(self.db) as conn:
            conn.query('DROP SCHEMA IF EXISTS "import" CASCADE')

    def verify(self, result):
        """Pass-level checks, then every table read back from Postgres
        and the hook's typed table, against the generator's digests."""
        from postgresimporter_spark.sources.pgwire import connect

        errs = []
        if not result.check_passed:
            errs.append("reconciliation check failed")
        views = {**result.file_views, **result.combined_views}
        want = dict(self.expected["tables"])
        want["orders_typed"] = {"columns": HOOK_COLUMNS, **self.expected["hook"]}
        self.rows_loaded = 0
        with connect(self.db) as conn:
            for t, e in want.items():
                if t != "orders_typed" and f"import_{t}" not in views:
                    errs.append(f"view import_{t} missing")
                try:
                    n, d = conn.query(inputs.pg_digest_sql(t, e["columns"]))[0]
                except Exception as exc:  # noqa: BLE001 - counted as a failure
                    errs.append(f"{t}: read-back failed: {exc}")
                    continue
                if t != "orders_typed":
                    self.rows_loaded += int(n)
                if (int(n), d) != (e["rows"], e["digest"]):
                    errs.append(f"{t}: got {n}/{d}, want {e['rows']}/{e['digest']}")
        return len(want), errs

    def close(self):
        if getattr(self, "pg", None) is not None:
            self.pg.__exit__(None, None, None)
            self.pg = None

    def trace_pass(self, tracer, pass_span, counters, result):
        return ingest_layers(tracer, pass_span, counters, result, self)


# --- catalog ---------------------------------------------------------------

# query -> the tables it scans (their parquet bytes make input_mb_s)
CATALOG_QUERIES = {
    "q01_pricing_summary": ["lineitem"],
    "q180_kcore": ["lineitem"],
}
# checked against the DuckDB oracle on the run's first sweep, every sweep
# against golden digests (q180's oracle needs many GB of temp disk at sf0.1)
ORACLE_EACH_RUN = ["q01_pricing_summary"]
def catalog_dir() -> Path:
    """The fixed sf0.01 tables, beside ``__spark_entry__.SMOKE_SF_DIR``."""
    import __spark_entry__

    return Path(__spark_entry__.SMOKE_SF_DIR).parent / "sf0.01"


def norm_value(v) -> str:
    """Engine-neutral text form of one result value (Spark and DuckDB
    type a sum differently, so numbers compare by value)."""
    if v is None:
        return "\\N"
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if f.is_integer() and abs(f) < 2**53:
            return str(int(f))
        return f"{f:.9g}"
    return str(v)


def result_digest(rows) -> tuple[int, str]:
    rows = [tuple(norm_value(v) for v in r) for r in rows]
    return len(rows), str(inputs.digest_rows(rows))


def oracle_digest(con, q) -> tuple[int, str]:
    return result_digest(con.sql(q.oracle).fetchall())


def duckdb_oracle(sf: Path):
    import duckdb

    con = duckdb.connect()
    for p in sf.glob("*.parquet"):
        con.sql(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    return con


class CatalogIterative(Workload):
    """One sweep over a fixed list of catalog queries: build, then collect."""

    name = "catalog_iterative"
    # a sweep is short, so more of them fit a run
    min_passes = 5

    def __init__(self, seed: int, cache: Path):
        # the tables are fixed; the seed does not change them
        self.oracle_checked = False

    def prepare(self, spark, registry, run_dir):
        self.sf = catalog_dir()
        if not self.sf.is_dir():
            raise RuntimeError(f"catalog tables not found: {self.sf}")
        golden = json.loads((BENCH_DIR / "golden.json").read_text())
        if golden["sf"] != self.sf.name:
            raise RuntimeError("golden.json was made for another scale")
        self.golden = golden["queries"]
        tables = {t for ts in CATALOG_QUERIES.values() for t in ts}
        self.input_bytes = sum(
            (self.sf / f"{t}.parquet").stat().st_size for t in tables
        )
        self.queries = {q: registry[q] for q in CATALOG_QUERIES}
        self.build = {q: d.fn for q, d in self.queries.items()}
        self.exec = {q: (lambda df: df.collect()) for q in CATALOG_QUERIES}

    def run_pass(self, spark):
        out = {}
        for q in CATALOG_QUERIES:
            df = self.build[q](spark, str(self.sf))
            out[q] = (df, self.exec[q](df))
        return out

    def verify(self, result):
        errs = []
        for q, (_, rows) in result.items():
            got = result_digest(rows)
            want = (self.golden[q]["rows"], self.golden[q]["digest"])
            if got != want:
                errs.append(f"{q}: got {got}, golden {want}")
        if not self.oracle_checked:
            self.oracle_checked = True
            con = duckdb_oracle(self.sf)
            try:
                for q in ORACLE_EACH_RUN:
                    want = oracle_digest(con, self.queries[q])
                    if result_digest(result[q][1]) != want:
                        errs.append(f"{q}: differs from the DuckDB oracle")
            finally:
                con.close()
        return len(result), errs

    def trace_pass(self, tracer, pass_span, counters, result):
        return catalog_layers(tracer, pass_span, counters, result)

    def install_tracing(self, tracer):
        for q in CATALOG_QUERIES:
            self.build[q] = tracer.wrap(f"q.{q}.build", self.build[q])
            self.exec[q] = tracer.wrap(f"q.{q}.exec", self.exec[q])


WORKLOADS = {w.name: w for w in (IngestCopyBulk, CatalogIterative)}


# --- per-layer folding ------------------------------------------------------

SELF_SPANS = [
    "zips.extract", "discovery", "csv.build", "csv.group",
    "functions.register", "combine", "sink.write", "copy.write",
    "copy.count", "hooks", "reconcile.report", "reconcile.csv_count",
    "reconcile.db_count",
]


def _by_name(tracer, pass_span):
    """name -> (inclusive seconds, self seconds, calls, spans) over the
    spans of one pass."""
    agg: dict[str, list] = {}
    todo = [pass_span.id]
    while todo:
        s = tracer.spans[todo.pop()]
        todo.extend(s.children)
        a = agg.setdefault(s.name, [0.0, 0.0, 0, []])
        a[0] += s.dur
        a[1] += tracer.self_time(s)
        a[2] += 1
        a[3].append(s)
    return agg


def _jobs_of(counters, spans) -> list[int]:
    groups = {f"span:{s.id}" for s in spans}
    return [j for j, g in counters["job_group"].items() if g in groups]


def ingest_layers(tracer, p, c, result, wl) -> dict[str, float]:
    agg = _by_name(tracer, p)
    z = [0.0, 0.0, 0, []]
    g = lambda n: agg.get(n, z)  # noqa: E731
    csv_jobs = _jobs_of(c, g("csv.build")[3])
    # sink jobs: fired under the sink span, or by the sink's own worker
    # threads, which carry no span group
    sink_spans = g("sink.write")[3] + g("copy.write")[3]
    sink_jobs = _jobs_of(c, sink_spans) + [
        j for j, grp in c["job_group"].items()
        if grp is None and any(s.job_lo <= j < s.job_hi for s in sink_spans)
    ]
    n_files = len(result.file_views)
    m = {
        "zips.extract_s": g("zips.extract")[0],
        "zips.archives": float(len(list(wl.src.rglob("*.zip")))),
        "discovery.s": g("discovery")[0],
        "discovery.files": float(sum(len(v) for v in result.table_csv_files.values())),
        "csv.build_s": g("csv.build")[0],
        "csv.build_calls": float(g("csv.build")[2]),
        "csv.build_jobs": float(len(csv_jobs)),
        "csv.build_ms_per_file": 1000 * g("csv.build")[0] / max(n_files, 1),
        "functions.register_s": g("functions.register")[0],
        "hooks.post_s": g("hooks")[0],
        "combine.s": g("combine")[0],
        "sink.write_s": g("sink.write")[0],
        "sink.jobs": float(len(sink_jobs)),
        "sink.tasks": float(sum(c["job_tasks"].get(j, 0) for j in sink_jobs)),
        "sink.rows": float(wl.rows_loaded),
        "copy.write_s": g("copy.write")[0],
        "copy.calls": float(g("copy.write")[2]),
        "copy.rows_s": (wl.rows_loaded / g("copy.write")[0]) if g("copy.write")[0] else 0.0,
        "copy.count_s": g("copy.count")[0],
        "reconcile.csv_count_s": g("reconcile.csv_count")[0],
        "reconcile.db_count_s": g("reconcile.db_count")[0] + g("copy.count")[0],
        "reconcile.report_s": g("reconcile.report")[1],
    }
    for n in SELF_SPANS:
        m[f"self.{n.replace('.', '_')}_s"] = g(n)[1]
    return m


def catalog_layers(tracer, p, c, result) -> dict[str, float]:
    agg = _by_name(tracer, p)
    m = {"plans.build_s": 0.0, "plans.eager_jobs": 0.0, "plans.exec_s": 0.0}
    for q, (df, _) in result.items():
        b = agg[f"q.{q}.build"]
        e = agg[f"q.{q}.exec"]
        m[f"q.{q}.build_s"] = b[0]
        m[f"q.{q}.eager_jobs"] = float(len(_jobs_of(c, b[3])))
        m[f"q.{q}.exec_s"] = e[0]
        m[f"q.{q}.planning_ms"] = planning_ms(df)
        m["plans.build_s"] += b[0]
        m["plans.eager_jobs"] += m[f"q.{q}.eager_jobs"]
        m["plans.exec_s"] += e[0]
    return m


def planning_ms(df) -> float:
    """Catalyst analysis + optimization + planning time of the final
    plan, from Spark's QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for ph in ("analysis", "optimization", "planning"):
        o = phases.get(ph)
        if o.isDefined():
            total += int(o.get().durationMs())
    return float(total)
