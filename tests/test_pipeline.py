"""End-to-end pipeline tests: the reference's animals golden
(README.md:75-105, FIXTURES.md §1) plus stage-toggle semantics."""

from __future__ import annotations

import re
import zipfile
from pathlib import Path

import pytest

from postgresimporter_spark.config import PipelineConfig
from postgresimporter_spark.pipeline import run_pipeline

ANIMALS_1 = 'name,origin,height\nGrizzly,"North America",220\nGiraffe,"Africa",600\n'
ANIMALS_2 = 'name,origin,height\nWallabie,"Australia",180\n'


@pytest.fixture()
def animals_dir(tmp_path):
    (tmp_path / "animals_1.csv").write_text(ANIMALS_1)
    (tmp_path / "animals_2.csv").write_text(ANIMALS_2)
    return tmp_path


def test_animals_golden(spark, animals_dir):
    """2 CSVs -> import_animals_1, import_animals_2, combined import_animals
    (UNION ALL, duplicates preserved), all columns text."""
    cfg = PipelineConfig(sources=[animals_dir], combine_tables=True)
    result = run_pipeline(spark, cfg)

    assert set(result.file_views) == {"import_animals_1", "import_animals_2"}
    assert set(result.combined_views) == {"import_animals"}

    combined = spark.table("import_animals")
    assert [f.dataType.simpleString() for f in combined.schema.fields] == [
        "string",
        "string",
        "string",
    ]
    rows = {tuple(r) for r in combined.collect()}
    assert rows == {
        ("Grizzly", "North America", "220"),
        ("Giraffe", "Africa", "600"),
        ("Wallabie", "Australia", "180"),
    }
    # reconciliation: 3 csv rows vs 3 combined rows
    assert result.check_passed
    report = {r.table: r for r in result.report.collect()}
    assert report["animals"].csv_rows == 3
    assert report["animals"].db_rows == 3
    assert report["animals"].difference == 0


def test_post_load_typed_query(spark, animals_dir, tmp_path):
    """Post-load hook casts text -> int (README.md:93-105 semantics)."""
    hook = tmp_path / "hooks" / "typed.sql"
    hook.parent.mkdir()
    hook.write_text(
        "CREATE OR REPLACE TEMPORARY VIEW public_animals AS "
        "SELECT name, origin, CAST(height AS INT) AS height "
        "FROM import_animals"
    )
    cfg = PipelineConfig(
        sources=[animals_dir], combine_tables=True, post_load=[hook.parent]
    )
    run_pipeline(spark, cfg)
    got = {
        (r.name, r.height) for r in spark.table("public_animals").collect()
    }
    assert got == {("Grizzly", 220), ("Giraffe", 600), ("Wallabie", 180)}
    assert dict(spark.table("public_animals").dtypes)["height"] == "int"


def test_combine_duplicates_preserved(spark, tmp_path):
    """UNION ALL, not UNION: identical rows in two files both survive."""
    (tmp_path / "dup_1.csv").write_text("a,b\n1,x\n")
    (tmp_path / "dup_2.csv").write_text("a,b\n1,x\n")
    cfg = PipelineConfig(sources=[tmp_path], combine_tables=True)
    run_pipeline(spark, cfg)
    assert spark.table("import_dup").count() == 2


def test_combine_schema_mismatch_logged_not_fatal(spark, tmp_path, caplog):
    (tmp_path / "bad_1.csv").write_text("a,b\n1,2\n")
    (tmp_path / "bad_2.csv").write_text("a,c\n1,2\n")
    cfg = PipelineConfig(sources=[tmp_path], combine_tables=True)
    result = run_pipeline(spark, cfg)
    # per-file views still created; combined view absent; run not aborted
    assert set(result.file_views) == {"import_bad_1", "import_bad_2"}
    assert "import_bad" not in result.combined_views


def test_exclude_and_disable_flags(spark, tmp_path):
    (tmp_path / "keep_1.csv").write_text("a\n1\n")
    (tmp_path / "skip_sample.csv").write_text("a\n1\n")
    cfg = PipelineConfig(
        sources=[tmp_path],
        exclude_regex=r"^.*sample.*$",
        disable_check=True,
    )
    result = run_pipeline(spark, cfg)
    assert set(result.file_views) == {"import_keep_1"}
    assert result.report is None

    cfg2 = PipelineConfig(sources=[tmp_path], disable_import=True)
    result2 = run_pipeline(spark, cfg2)
    assert result2.file_views == {}


def test_zip_extraction_stage(spark, tmp_path):
    src = tmp_path / "archive.zip"
    with zipfile.ZipFile(src, "w") as zf:
        zf.writestr("zipped_1.csv", "a,b\n1,2\n3,4\n")
    cfg = PipelineConfig(sources=[tmp_path])
    result = run_pipeline(spark, cfg)
    assert "import_zipped_1" in result.file_views
    assert spark.table("import_zipped_1").count() == 2


def test_pre_load_hook_runs_first(spark, animals_dir, tmp_path):
    pre = tmp_path / "pre.sql"
    pre.write_text(
        "CREATE OR REPLACE TEMPORARY VIEW preload_marker AS SELECT 1 AS ok"
    )
    cfg = PipelineConfig(sources=[animals_dir], pre_load=[pre])
    run_pipeline(spark, cfg)
    assert spark.table("preload_marker").collect()[0].ok == 1


def test_csvcount_cli(spark, tmp_path, capsys):
    import json

    from postgresimporter_spark.csvcount import main as csvcount_main

    (tmp_path / "a_1.csv").write_text('h\n1\n"multi\nline"\n')
    (tmp_path / "b_1.csv").write_text("h\n")
    assert csvcount_main([str(tmp_path)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    by_name = {k.rsplit("/", 1)[-1]: v for k, v in out.items()}
    # quoted newline counted as ONE data row (better than wc -l)
    assert by_name == {"a_1.csv": 2, "b_1.csv": 0}


def test_csvcount_mixed_encodings(spark, tmp_path, capsys):
    """ADVICE r12: the single grouped scan parsed every file as UTF-8,
    so a UTF-16 dump's quote characters went unrecognized and quoted
    embedded newlines sheared into extra records. Files are now
    bucketed by sniffed encoding — one grouped scan per charset — and
    the UTF-16 file's quoted newline counts as ONE data row."""
    import codecs
    import json

    from postgresimporter_spark.csvcount import main as csvcount_main

    text = 'h,notes\nalpha,"line1\nline2"\nbeta,plain\n'
    (tmp_path / "u16_1.csv").write_bytes(
        codecs.BOM_UTF16_LE + text.encode("utf-16-le")
    )
    (tmp_path / "u8_1.csv").write_text('h,notes\ngamma,"a\nb"\ndelta,x\n')
    assert csvcount_main([str(tmp_path)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    by_name = {k.rsplit("/", 1)[-1]: v for k, v in out.items()}
    assert by_name == {"u16_1.csv": 2, "u8_1.csv": 2}


def test_csvcount_distributed_head_sniff(spark, tmp_path, capsys):
    """A 64-file tree: csvcount sniffs every file's encoding from its
    own head, so a UTF-16 file among 63 UTF-8 ones counts right (its
    quoted newline must not shear) and every file is counted."""
    import codecs
    import json

    from postgresimporter_spark.csvcount import main as csvcount_main

    n = 64
    for i in range(n - 1):
        (tmp_path / f"t{i:03d}_1.csv").write_text(f"h\nrow{i}\n")
    text = 'h,notes\nalpha,"line1\nline2"\nbeta,plain\n'
    (tmp_path / "u16_1.csv").write_bytes(
        codecs.BOM_UTF16_LE + text.encode("utf-16-le")
    )
    assert csvcount_main([str(tmp_path)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    by_name = {k.rsplit("/", 1)[-1]: v for k, v in out.items()}
    assert len(by_name) == n
    assert by_name["u16_1.csv"] == 2
    assert all(
        by_name[f"t{i:03d}_1.csv"] == 1 for i in range(n - 1)
    )


def test_csv_no_multiline_distributed_probe(spark, tmp_path):
    """The multiline=False quoted-newline assert probes every path of
    a 64-path read: a dirty file hidden in a large group still raises
    LOUDLY, and an all-clean large group loads split with correct
    rows."""
    import pytest

    from postgresimporter_spark.sources.csv import read_csv_all_text

    n = 64
    clean = []
    for i in range(n):
        p = tmp_path / f"c{i:03d}.csv"
        p.write_text(f"name,notes\nrow{i},plain\n")
        clean.append(p)
    got = {
        tuple(r)
        for r in read_csv_all_text(spark, clean, multiline=False).collect()
    }
    assert got == {(f"row{i}", "plain") for i in range(n)}

    dirty = tmp_path / "zz_dirty.csv"
    dirty.write_text('name,notes\nGrizzly,"likes\nsalmon"\n')
    with pytest.raises(ValueError, match="quoted embedded newline"):
        read_csv_all_text(spark, [*clean, dirty], multiline=False)


def test_pipeline_at_fixture_scale(spark, tmp_path):
    """Full pipeline over CSVs exported from the sf0.01 lineitem fixture:
    3 prefix-grouped files, combine, reconciliation — 60k rows."""
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    n = li.count()
    pdf = li.toPandas()
    third = len(pdf) // 3
    for i in range(3):
        chunk = pdf.iloc[i * third : (i + 1) * third if i < 2 else len(pdf)]
        chunk.to_csv(tmp_path / f"lineitem_{i}.csv", index=False)

    cfg = PipelineConfig(sources=[tmp_path], combine_tables=True)
    result = run_pipeline(spark, cfg)
    assert result.check_passed
    combined = spark.table("import_lineitem")
    assert combined.count() == n
    # all-text ingest: every column string
    assert all(t == "string" for _, t in combined.dtypes)
    # typed post-load query over the combined view reproduces a fixture agg
    from pyspark.sql import functions as F

    got = {
        (r.l_returnflag, r.n)
        for r in combined.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    expected = {
        (r.l_returnflag, r.n)
        for r in li.groupBy("l_returnflag").agg(F.count("*").alias("n")).collect()
    }
    assert got == expected


def test_disable_import_still_reconciles(spark, animals_dir):
    """Reference always discovers + checks, even when loading is
    disabled (main.py runs post_load_check regardless)."""
    spark.catalog.dropTempView("import_animals") if any(
        t.name == "import_animals" for t in spark.catalog.listTables()
    ) else None
    cfg = PipelineConfig(sources=[animals_dir], disable_import=True)
    result = run_pipeline(spark, cfg)
    assert result.file_views == {}
    assert result.report is not None  # check stage ran
    assert set(result.table_csv_files) == {"animals"}


def test_all_overrides_disable_import(spark, animals_dir):
    cfg = PipelineConfig(
        sources=[animals_dir], disable_import=True, process_all=True
    )
    result = run_pipeline(spark, cfg)
    assert set(result.file_views) == {"import_animals_1", "import_animals_2"}


def test_env_only_db_config_activates_sink(monkeypatch):
    from postgresimporter_spark.config import parse_args

    monkeypatch.setenv("DB_NAME", "envdb")
    cfg = parse_args(["some_dir"])
    assert cfg.db is not None
    assert cfg.db.database == "envdb"
    monkeypatch.delenv("DB_NAME")
    for k in ("DB_HOST", "DB_PORT", "DB_USER", "DB_PASSWORD"):
        monkeypatch.delenv(k, raising=False)
    assert parse_args(["some_dir"]).db is None


def test_stray_db_host_env_does_not_activate_sink(monkeypatch):
    """An unrelated DB_HOST in the environment must not flip a
    Spark-native run into JDBC writes (ADVICE r01): only DB_NAME or an
    explicit CLI flag opts in."""
    from postgresimporter_spark.config import parse_args

    monkeypatch.delenv("DB_NAME", raising=False)
    monkeypatch.setenv("DB_HOST", "some-ambient-host")
    monkeypatch.setenv("DB_USER", "ambient")
    assert parse_args(["some_dir"]).db is None
    # but an explicit CLI flag still wins
    assert parse_args(["some_dir", "--db-name", "x"]).db is not None


def test_csv_row_counts_path_with_plus(spark, tmp_path):
    """A literal '+' in a CSV path must not be form-decoded to a space
    distributed-side (ADVICE r01): the distributed group key must equal
    the driver-side table_name_for_path key, or counts land under a
    phantom table and reconciliation reports a spurious difference."""
    from postgresimporter_spark.naming import table_name_for_path
    from postgresimporter_spark.reconcile import csv_row_counts

    d = tmp_path / "in+box"
    d.mkdir()
    f = d / "plus+name_2024.csv"
    f.write_text("a,b\n1,2\n3,4\n")
    key = table_name_for_path(f)
    counts = csv_row_counts(spark, {key: [f]})
    assert counts == {key: 2}


def test_split_sql_statements_quote_aware():
    from postgresimporter_spark.pipeline import split_sql_statements

    got = split_sql_statements(
        "INSERT INTO t VALUES ('a;b');\n"
        "-- a comment; with semicolon\n"
        "SELECT 'it''s;fine';  SELECT 2"
    )
    assert got == [
        "INSERT INTO t VALUES ('a;b')",
        "SELECT 'it''s;fine'",
        "SELECT 2",
    ]


def test_split_sql_statements_dollar_quoted():
    """Postgres function bodies carry ';' inside $$...$$ / $tag$...$tag$
    (reference hooks ran through psql, which honors dollar quoting)."""
    from postgresimporter_spark.pipeline import split_sql_statements

    script = (
        "CREATE FUNCTION f() RETURNS int AS $$\n"
        "BEGIN RETURN 1; END;\n"
        "$$ LANGUAGE plpgsql;\n"
        "CREATE FUNCTION g() RETURNS text AS $body$\n"
        "SELECT 'a;b'; -- not a comment inside\n"
        "$body$ LANGUAGE sql;\n"
        "SELECT 3"
    )
    got = split_sql_statements(script)
    assert len(got) == 3
    assert got[0].startswith("CREATE FUNCTION f")
    assert "BEGIN RETURN 1; END;" in got[0]
    assert "$body$" in got[1] and "SELECT 'a;b';" in got[1]
    assert got[2] == "SELECT 3"
    # $5 in "price $5; cost" is not a dollar-quote opener
    assert split_sql_statements("SELECT 'x' AS a; SELECT '$5' AS b") == [
        "SELECT 'x' AS a",
        "SELECT '$5' AS b",
    ]
    # unterminated dollar quote: rest of script swallowed, no crash
    assert split_sql_statements("SELECT $$oops; no close") == [
        "SELECT $$oops; no close"
    ]


def test_hook_statement_failure_continues(spark, animals_dir, tmp_path):
    hook = tmp_path / "partial.sql"
    hook.write_text(
        "SELECT * FROM nonexistent_table_xyz;\n"
        "CREATE OR REPLACE TEMPORARY VIEW hook_survivor AS SELECT 42 AS v"
    )
    cfg = PipelineConfig(sources=[animals_dir], post_load=[hook])
    run_pipeline(spark, cfg)
    assert spark.table("hook_survivor").collect()[0].v == 42


def test_single_file_collision_skips_combine(spark, tmp_path):
    """running.csv: prefix name == member table name -> combine skipped
    (reference main.py:222-226), per-file view remains."""
    (tmp_path / "running.csv").write_text("a,b\n1,2\n")
    cfg = PipelineConfig(sources=[tmp_path], combine_tables=True)
    result = run_pipeline(spark, cfg)
    assert "import_running" in result.file_views
    assert "import_running" not in result.combined_views


def test_bucketed_sink_joins_without_exchange(spark, animals_dir, tmp_path):
    """With bucket_by configured, the sink additionally saves each view
    as a bucketed+sorted catalog table; a self-join on the bucket key
    must then plan with zero shuffle exchanges (the write paid it)."""
    from postgresimporter_spark.operators.bucketing import count_exchanges

    cfg = PipelineConfig(
        sources=[animals_dir],
        combine_tables=True,
        sink_dir=tmp_path / "sink",
        bucket_by=["name"],
        bucket_count=4,
    )
    result = run_pipeline(spark, cfg)
    assert result.check_passed
    # plain parquet sink still written
    assert (tmp_path / "sink" / "import_animals").exists()

    t = spark.table("import_animals_bucketed")
    joined = t.alias("a").join(t.alias("b"), on=["name"])
    assert count_exchanges(joined) == 0
    assert joined.count() == 3


def test_parse_args_bucket_flags():
    from postgresimporter_spark.config import parse_args

    cfg = parse_args(
        ["data", "--bucket-by", "k1", "--bucket-by", "k2",
         "--bucket-count", "16"]
    )
    assert cfg.bucket_by == ["k1", "k2"]
    assert cfg.bucket_count == 16
    # default: bucketing off
    assert parse_args(["data"]).bucket_by == []


def test_db_row_counts_ignores_stale_sink(spark, tmp_path):
    """Reconciliation must not trust a sink directory this run did not
    write (ADVICE r8): a stale parquet dir left by a previous run falls
    back to the live view when the per-run write record excludes it."""
    from postgresimporter_spark.reconcile import db_row_counts

    # "Previous run" left 10 rows at the sink path; the live view for
    # this run has 2.
    sink = tmp_path / "sink"
    spark.range(10).toDF("x").write.parquet(str(sink / "import_animals"))
    spark.range(2).toDF("x").createOrReplaceTempView("import_animals")

    live = db_row_counts(
        spark, ["animals"], sink_dir=sink, written_views=set()
    )
    assert live == {"animals": 2}
    trusted = db_row_counts(
        spark,
        ["animals"],
        sink_dir=sink,
        written_views={"import_animals"},
    )
    assert trusted == {"animals": 10}
    spark.catalog.dropTempView("import_animals")


def test_pipeline_records_sink_written(spark, animals_dir, tmp_path):
    """write_sink records every view whose parquet write succeeded this
    run, and reconciliation passes against those sink counts."""
    cfg = PipelineConfig(
        sources=[animals_dir],
        combine_tables=True,
        sink_dir=tmp_path / "sink",
    )
    result = run_pipeline(spark, cfg)
    assert result.sink_written == {
        "import_animals_1",
        "import_animals_2",
        "import_animals",
    }
    assert result.check_passed


def test_bench_plan_fingerprint_guard(spark):
    """r12 (VERDICT r11 #7): per-query plan fingerprints carry the
    scale counters, and the round-over-round diff localizes exactly
    the counters that changed — so a plan regression (new shuffle,
    lost broadcast) is caught even when wall-time drift masks it."""
    import copy

    import bench

    from postgresimporter_spark.plans import registry

    reg = registry()
    fps = bench._plan_fingerprints(
        spark,
        reg,
        ["q01_pricing_summary", "q24_dedup_exact"],
        "/root/testdata/sf0.001",
    )
    a = fps["q01_pricing_summary"]
    assert "error" not in a
    assert a["n_rowwise_python"] == 0
    assert isinstance(a["unpartitioned_windows"], int)

    assert bench._plan_diff(fps, fps) == {}
    prior = copy.deepcopy(fps)
    prior["q24_dedup_exact"]["n_exchanges"] += 1
    d = bench._plan_diff(fps, prior)
    assert list(d) == ["q24_dedup_exact"]
    assert d["q24_dedup_exact"]["n_exchanges"] == [
        prior["q24_dedup_exact"]["n_exchanges"],
        fps["q24_dedup_exact"]["n_exchanges"],
    ]
    # errored audits never produce a diff entry
    prior["q01_pricing_summary"] = {"error": "x"}
    assert "q01_pricing_summary" not in bench._plan_diff(fps, prior)


def test_bench_round_is_its_own_constant():
    """The sidecar name BENCH_LOCAL_r{round}.json and the prior-round
    skip come from bench.py's own round constant, not from the catalog."""
    import bench

    assert bench._ROUND == 14


def test_reconciliation_failure_injection_bench_scale(
    spark, tmp_path, monkeypatch
):
    """Failure injection on the bench-shaped ingest corpus (VERDICT r08
    #6): after a clean multi-file ingest, a partial sink write (200
    rows lost from one prefix table) must FAIL the tolerance gate and
    the report must localize the delta to exactly that table — the
    reference's FATAL-at->100 semantics (main.py:301-302). If the same
    view is instead excluded from the per-run write record (a write
    that never happened this run), reconciliation falls back to the
    live view and passes — stale sink data never masks either way."""
    import bench
    from postgresimporter_spark.reconcile import reconciliation_report

    monkeypatch.setenv(
        "SPARK_GRAFT_INGEST_DIR", str(tmp_path / "ingest_corpus")
    )
    csv_dir = bench._ensure_ingest_csv(spark, "/root/testdata/sf0.001")
    assert csv_dir is not None

    sink = tmp_path / "sink"
    cfg = PipelineConfig(
        sources=[Path(csv_dir)], combine_tables=True, sink_dir=sink
    )
    result = run_pipeline(spark, cfg)
    assert result.check_passed
    assert "import_lineitem" in result.sink_written

    # Inject: the lineitem sink loses 200 rows (a crashed write that
    # still left a directory behind).
    combined = spark.read.parquet(str(sink / "import_lineitem"))
    n = combined.count()
    kept = combined.limit(n - 200).collect()
    spark.createDataFrame(kept, combined.schema).write.mode(
        "overwrite"
    ).parquet(str(sink / "import_lineitem"))

    report, passed, _ = reconciliation_report(
        spark,
        result.table_csv_files,
        tolerance=100,
        sink_dir=sink,
        written_views=result.sink_written,
    )
    rows = {r.table: r for r in report.collect()}
    assert not passed
    assert rows["lineitem"].difference == 200
    assert all(
        r.difference == 0 for t, r in rows.items() if t != "lineitem"
    )

    # Same corrupted sink, but the view is NOT in this run's write
    # record: reconciliation must not trust it (falls back to the live
    # view) and the gate passes.
    report2, passed2, _ = reconciliation_report(
        spark,
        result.table_csv_files,
        tolerance=100,
        sink_dir=sink,
        written_views=result.sink_written - {"import_lineitem"},
    )
    rows2 = {r.table: r for r in report2.collect()}
    assert passed2
    assert rows2["lineitem"].difference == 0


def test_csv_row_counts_through_symlinked_dir(spark, tmp_path):
    """Fast counts survive a symlinked source directory: the Spark-side
    input_file_name (lexical qualification, no symlink resolution) and
    the driver-side Path still land on the same count entry."""
    from postgresimporter_spark.reconcile import csv_row_counts

    real = tmp_path / "real"
    real.mkdir()
    (real / "animals_1.csv").write_text(ANIMALS_1)
    link = tmp_path / "link"
    link.symlink_to(real, target_is_directory=True)

    counts = csv_row_counts(
        spark, {"animals": [link / "animals_1.csv"]}
    )
    assert counts == {"animals": 2}


def test_reconciliation_counts_rows_as_loaded(spark, tmp_path):
    """The CSV side of the check counts what the load parses: a quoted
    embedded newline in every row, trailing blank lines and a UTF-16
    dump each reconcile with zero difference."""
    (tmp_path / "notes_1.csv").write_text(
        "name,notes\n"
        + "".join(f'row{i},"line one\nline two"\n' for i in range(150))
    )
    (tmp_path / "blanks_1.csv").write_text("name,origin\nPanda,China\n\n\n")
    (tmp_path / "wide_1.csv").write_bytes(
        'name,notes\nGrizzly,"likes\nsalmon"\n'.encode("utf-16")
    )
    cfg = PipelineConfig(sources=[tmp_path], combine_tables=True)
    result = run_pipeline(spark, cfg)

    report = {r.table: r for r in result.report.collect()}
    assert {t: (r.csv_rows, r.db_rows) for t, r in report.items()} == {
        "notes": (150, 150),
        "blanks": (1, 1),
        "wide": (1, 1),
    }
    assert all(r.difference == 0 for r in report.values())
    assert result.check_passed


def test_combine_mixed_encoding_group(spark, tmp_path):
    """A prefix group whose members differ in encoding combines to
    exactly its members' rows: each member is decoded with its own
    sniffed charset, so a UTF-16 member (with a quoted newline) next
    to a UTF-8 one yields neither NUL-interleaved text nor extra
    rows, and the reconciliation difference is 0."""
    (tmp_path / "pets_1.csv").write_text(
        "name,notes\nRex,dog\nTom,cat\n"
    )
    (tmp_path / "pets_2.csv").write_bytes(
        'name,notes\nPolly,"talks\na lot"\nNemo,fish\n'.encode("utf-16")
    )
    result = run_pipeline(
        spark, PipelineConfig(sources=[tmp_path], combine_tables=True)
    )

    views = {**result.file_views, **result.combined_views}

    def rows(view):
        return sorted(tuple(r) for r in views[view].collect())

    assert views["import_pets"].columns == ["name", "notes"]
    assert rows("import_pets") == sorted(
        rows("import_pets_1") + rows("import_pets_2")
    )
    assert ("Polly", "talks\na lot") in rows("import_pets")
    report = {r.table: r for r in result.report.collect()}
    assert (report["pets"].csv_rows, report["pets"].db_rows) == (4, 4)
    assert report["pets"].difference == 0


def test_csv_no_multiline_flag(spark, animals_dir, tmp_path):
    """csv_multiline=False (the splittability lever for newline-clean
    dumps) loads the same rows on clean data and is reachable from the
    CLI; quoted-newline data remains correct only under the default."""
    from postgresimporter_spark.config import parse_args

    cfg = parse_args(
        [str(animals_dir), "--combine-tables", "--csv-no-multiline"]
    )
    assert cfg.csv_multiline is False
    result = run_pipeline(spark, cfg)
    assert result.check_passed
    rows = {tuple(r) for r in spark.table("import_animals").collect()}
    assert rows == {
        ("Grizzly", "North America", "220"),
        ("Giraffe", "Africa", "600"),
        ("Wallabie", "Australia", "180"),
    }


def _combined_rows(spark, path):
    return sorted(
        tuple(r) for r in spark.read.parquet(str(path)).collect()
    )


def test_combined_sink_failure_paths_bench_scale(spark, tmp_path, monkeypatch):
    """Failure injection on the combined-sink fast path at the
    bench-shaped ingest corpus (VERDICT r09 #6 + ADVICE r9 medium):

    1. Baseline clean run (fast path) — reference content.
    2. One MEMBER parquet write fails -> member missing from
       sink_written, combined falls back to the CSV-backed view, run
       completes, combined content identical, and the per-run write
       record localizes the failure to exactly that member.
    3. The member READ-BACK fails at plan time (corrupt/partially-
       committed dir shape) -> fast path falls back to CSV-backed df
       instead of aborting write_sink (the ADVICE abort hazard),
       combined content identical.
    4. The combined fast-path WRITE fails at action time -> the view
       is retried from the CSV-backed view, combined content
       identical."""
    import pyspark.sql.readwriter as rw

    import bench

    monkeypatch.setenv(
        "SPARK_GRAFT_INGEST_DIR", str(tmp_path / "ingest_corpus")
    )
    csv_dir = bench._ensure_ingest_csv(spark, "/root/testdata/sf0.001")
    assert csv_dir is not None

    def run(sink):
        cfg = PipelineConfig(
            sources=[Path(csv_dir)], combine_tables=True, sink_dir=sink
        )
        return run_pipeline(spark, cfg)

    # 1. clean baseline
    r0 = run(tmp_path / "sink0")
    assert r0.check_passed
    want = _combined_rows(spark, tmp_path / "sink0" / "import_lineitem")

    orig_write = rw.DataFrameWriter.parquet
    orig_read = rw.DataFrameReader.parquet

    # 2. one member write fails
    def fail_member_write(self, path, *a, **k):
        if str(path).rstrip("/").endswith("import_lineitem_3"):
            raise RuntimeError("injected member write failure")
        return orig_write(self, path, *a, **k)

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", fail_member_write)
    r2 = run(tmp_path / "sink2")
    monkeypatch.setattr(rw.DataFrameWriter, "parquet", orig_write)
    assert "import_lineitem_3" not in r2.sink_written  # localized
    assert "import_lineitem" in r2.sink_written  # combined still landed
    assert _combined_rows(
        spark, tmp_path / "sink2" / "import_lineitem"
    ) == want

    # 3. member read-back fails at plan time (ADVICE: must not abort)
    def fail_member_read(self, *paths, **k):
        if any("sink3" in str(p) and "import_lineitem_" in str(p)
               for p in paths):
            raise RuntimeError("injected member read-back failure")
        return orig_read(self, *paths, **k)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", fail_member_read)
    r3 = run(tmp_path / "sink3")
    monkeypatch.setattr(rw.DataFrameReader, "parquet", orig_read)
    assert r3.check_passed
    assert "import_lineitem" in r3.sink_written
    assert _combined_rows(
        spark, tmp_path / "sink3" / "import_lineitem"
    ) == want

    # 4. combined fast-path write fails once at action time -> retried
    # from the CSV-backed view
    failed = []

    def fail_combined_once(self, path, *a, **k):
        if (
            str(path).rstrip("/").endswith("import_lineitem")
            and not failed
        ):
            failed.append(path)
            raise RuntimeError("injected combined write failure")
        return orig_write(self, path, *a, **k)

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", fail_combined_once)
    r4 = run(tmp_path / "sink4")
    monkeypatch.setattr(rw.DataFrameWriter, "parquet", orig_write)
    assert failed, "injection never triggered"
    assert r4.check_passed
    assert "import_lineitem" in r4.sink_written
    assert _combined_rows(
        spark, tmp_path / "sink4" / "import_lineitem"
    ) == want


def test_csv_no_multiline_probe_catches_quoted_newline(spark, tmp_path):
    """The multiline=False splittability lever is self-guarding
    (VERDICT r09 #5): a corpus whose sample window contains a quoted
    embedded newline fails LOUDLY instead of silently shearing rows;
    quote-free and quoted-but-newline-free corpora still load split."""
    import pytest

    from postgresimporter_spark.sources.csv import (
        _probe_heads,
        _quoted_newline_in_head,
        read_csv_all_text,
    )

    dirty = tmp_path / "dirty.csv"
    dirty.write_text('name,notes\nGrizzly,"likes\nsalmon"\n')
    clean = tmp_path / "clean.csv"
    clean.write_text('name,notes\nGrizzly,"likes salmon, a lot"\n')
    # "" escape does not confuse the quote state machine
    escaped = tmp_path / "escaped.csv"
    escaped.write_text('name,notes\nGrizzly,"says ""grr"" often"\n')

    assert _probe_heads(
        spark, [dirty, clean, escaped], _quoted_newline_in_head
    ) == {str(dirty): True, str(clean): False, str(escaped): False}

    with pytest.raises(ValueError, match="quoted embedded newline"):
        read_csv_all_text(spark, dirty, multiline=False)
    got = {
        tuple(r)
        for r in read_csv_all_text(spark, clean, multiline=False).collect()
    }
    assert got == {("Grizzly", "likes salmon, a lot")}
    # the default (multiLine) path is untouched: dirty parses correctly
    got_ml = {tuple(r) for r in read_csv_all_text(spark, dirty).collect()}
    assert got_ml == {("Grizzly", "likes\nsalmon")}


def test_views_take_columns_from_header(spark, tmp_path):
    """Every view takes its columns from the driver's parse of its
    file's header, named by Spark's own rule for CSV headers, so in both
    multiline modes its columns and rows equal those of a Spark read
    that infers the header; and building the views fires no Spark job
    (counted by the newest job id, as in test_q55_is_single_lazy_plan)."""
    from postgresimporter_spark.sources.csv import (
        _encoding_of,
        csv_dialect,
        read_csv_all_text,
    )

    wide = [f"col{i}" for i in range(12000)]  # past the 64 KB head sample
    cases = {
        "dup_case": b"Id,ID\n1,2\n",
        "dup": b"a,A,a,b\n1,2,3,4\n",
        "empty_name": b"x,,y\n1,2,3\n",
        "trailing_comma": b"a,b,\n1,2,3\n",
        "bom": "\ufeffid,name\n1,a\n".encode("utf-8"),
        "crlf_quoted": b'id,name\r\n1,"a\r\nb"\r\n2,c\r\n',
        "utf16": "id,name\n1,a\n2,b\n".encode("utf-16"),
        "latin1": "id,n\xe4me\n1,caf\xe9\n".encode("latin-1"),
        "zero_byte": b"",
        "header_only": b"id,name\n",
        "blank_first": b"\r\nid,name\r\n2,b",
        "space_first": b"  \nid,name\n2,b\n",
        "wide_header": (
            ",".join(wide) + "\n" + ",".join(["v"] * len(wide)) + "\n"
        ).encode(),
    }
    for name, data in cases.items():
        (tmp_path / f"{name}.csv").write_bytes(data)
    idname = ["id", "name"]
    expected = {
        "dup_case": ["Id0", "ID1"],
        "dup": ["a0", "A1", "a2", "b"],
        "empty_name": ["x", "_c1", "y"],
        "trailing_comma": ["a", "b", "_c2"],
        "bom": idname,
        "utf16": idname,
        "latin1": ["id", "n\xe4me"],
        "zero_byte": [],
        "header_only": idname,
        "blank_first": idname,
        "wide_header": wide,
    }
    tracker = spark.sparkContext.statusTracker()

    def last_job_id():
        return max(tracker.getJobIdsForGroup(None), default=-1)

    def inferred(path, multiline):
        enc = _encoding_of(path.read_bytes()[: 1 << 16])
        reader = spark.read.option("header", "true")
        return csv_dialect(reader, multiline, enc).csv(str(path))

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for multiline in (True, False):
        j0 = last_job_id()
        views = {
            name: read_csv_all_text(
                spark, tmp_path / f"{name}.csv", multiline=multiline
            )
            for name in cases
            if multiline or name != "crlf_quoted"
        }
        assert last_job_id() == j0, multiline
        if not multiline:
            with pytest.raises(ValueError, match="quoted embedded newline"):
                read_csv_all_text(
                    spark, tmp_path / "crlf_quoted.csv", multiline=False
                )
        want = {
            **expected,
            "space_first": ["  "] if multiline else idname,
            **({"crlf_quoted": idname} if multiline else {}),
        }
        assert {n: v.columns for n, v in views.items()} == want, multiline
        for name, view in views.items():
            ref = inferred(tmp_path / f"{name}.csv", multiline)
            assert view.columns == ref.columns, (name, multiline)
            assert rows(view) == rows(ref), (name, multiline)

    # duplicates compare case-sensitively when the session does
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        view = read_csv_all_text(spark, tmp_path / "dup_case.csv")
        ref = inferred(tmp_path / "dup_case.csv", True)
        assert view.columns == ref.columns == ["Id", "ID"]
    finally:
        spark.conf.unset("spark.sql.caseSensitive")


def test_combine_member_with_leading_blank_line(spark, tmp_path):
    """A member whose dump starts with a blank line has the header
    Spark reads from it, so it combines with its group instead of
    failing the header check with ``[] != ['id', 'name']``."""
    from postgresimporter_spark.sources.csv import read_csv_group

    for multiline in (True, False):
        d = tmp_path / f"ml_{multiline}"
        d.mkdir()
        (d / "p_1.csv").write_bytes(b"id,name\n1,a\n")
        (d / "p_2.csv").write_bytes(b"\r\nid,name\r\n2,b")
        df = read_csv_group(spark, sorted(d.iterdir()), multiline=multiline)
        assert df.columns == ["id", "name"]
        assert sorted(tuple(r) for r in df.collect()) == [
            ("1", "a"),
            ("2", "b"),
        ]
    result = run_pipeline(
        spark,
        PipelineConfig(sources=[tmp_path / "ml_True"], combine_tables=True),
    )
    assert sorted(
        tuple(r) for r in result.combined_views["import_p"].collect()
    ) == [("1", "a"), ("2", "b")]
    assert result.check_passed


def test_combine_schema_drift_all_axes(spark, tmp_path):
    """Adversarial mid-prefix header drift (r11 probe, VERDICT r10
    #6b): permuted, dropped, and gained columns must each SKIP the
    combine (logged, run continues) — never combine silently. Spark's
    positional multi-path scan would misassign a permutation and
    null-pad/truncate a count drift without error (measured), and the
    reference's Postgres UNION ALL would silently misassign the
    permutation too; exact header equality is deliberately stricter
    than both."""
    cases = {
        "perm": "c,a,b\n30,10,20\n",    # same count, different order
        "drop": "a,b\n7,8\n",           # lost a column
        "gain": "a,b,c,d\n4,5,6,9\n",   # extra column
    }
    for name, member2 in cases.items():
        d = tmp_path / name
        d.mkdir()
        (d / f"{name}tbl_1.csv").write_text("a,b,c\n1,2,3\n")
        (d / f"{name}tbl_2.csv").write_text(member2)
        result = run_pipeline(
            spark, PipelineConfig(sources=[d], combine_tables=True)
        )
        assert set(result.file_views) == {
            f"import_{name}tbl_1", f"import_{name}tbl_2"
        }, name
        assert f"import_{name}tbl" not in result.combined_views, name


def test_combine_header_check_via_hadoop_fs(spark, tmp_path):
    """The LIKE-first header check holds for paths local IO cannot
    open (r11: on cluster storage — s3://, hdfs:// — the old check
    silently skipped itself and a permuted header combined
    misassigned). file:/ URIs exercise the Hadoop FileSystem fallback
    end-to-end: open() rejects them, the JVM reads them."""
    import pytest

    from postgresimporter_spark.sources.csv import _header, read_csv_group

    p1, p2 = tmp_path / "h_1.csv", tmp_path / "h_2.csv"
    p1.write_text("a,b,c\n1,2,3\n")
    p2.write_text("c,a,b\n30,10,20\n")
    u1, u2 = f"file:{p1}", f"file:{p2}"
    with pytest.raises(OSError):
        open(u1)  # local IO cannot read the URI form
    assert _header(u1, spark) == ["a", "b", "c"]
    assert _header(u2, spark) == ["c", "a", "b"]
    with pytest.raises(ValueError, match="schema mismatch"):
        read_csv_group(spark, [u1, u2])
    # matching URIs pass the check and read combined
    assert read_csv_group(spark, [u1, f"file:{p1}"]).count() == 2


def test_header_quoted_newline_spanning_sample_boundary(spark, tmp_path):
    """ADVICE r12: a quoted header field with an embedded newline whose
    closing quote falls PAST the 64KB head sample used to satisfy the
    old '\\n in text' completeness check — csv.reader silently returned
    the truncated partial record as a verified header. The check now
    requires an UNQUOTED record-terminating newline inside the sample;
    this file has none, so a local path falls back to the unbounded
    full read and returns the true header."""
    from postgresimporter_spark.sources.csv import _header

    giant = "x" * 40_000 + "\n" + "y" * 40_000  # quote closes past 64KB
    p = tmp_path / "giant_header_1.csv"
    p.write_text(f'"{giant}",second\n1,2\n')
    got = _header(p, spark)
    assert got == [giant, "second"]

    # control: a quoted newline that COMPLETES inside the sample still
    # parses from the bounded head (no full-file read needed)
    q = tmp_path / "small_header_1.csv"
    q.write_text('"a\nb",second\n1,2\n')
    assert _header(q, spark) == ["a\nb", "second"]


def test_head_guards_one_read_per_path_and_utf16_remote(
    spark, tmp_path, monkeypatch
):
    """r12 (ADVICE r11): the three head-sampling guards — header
    check, quoted-newline shear probe, encoding sniff — share ONE head
    fetch per file (on cluster storage each fetch is a Hadoop
    FileSystem open+read; before, a combine with multiline=False paid
    up to three per file), and the Hadoop-FS header fallback decodes
    with the encoding DETECTED FROM THE SAME BYTES (before: hardcoded
    utf-8, so UTF-16 remote headers came back garbled and raised a
    spurious mismatch)."""
    import pytest

    from postgresimporter_spark.sources import csv as C

    p1, p2 = tmp_path / "u_1.csv", tmp_path / "u_2.csv"
    p1.write_text("a,b\n1,2\n")
    p2.write_text("a,b\n3,4\n")
    calls: list[str] = []
    real = C._head_bytes
    monkeypatch.setattr(
        C,
        "_head_bytes",
        lambda p, n, s=None: (calls.append(str(p)) or real(p, n, s)),
    )
    got = C.read_csv_group(spark, [p1, p2], multiline=False)
    assert got.count() == 2
    assert sorted(calls) == sorted([str(p1), str(p2)])

    # UTF-16 (BOM) header through the Hadoop-FS path: true names out
    w1, w2 = tmp_path / "w_1.csv", tmp_path / "w_2.csv"
    w1.write_bytes("α,β\n1,2\n".encode("utf-16"))
    w2.write_bytes("β,α\n20,10\n".encode("utf-16"))
    u1, u2 = f"file:{w1}", f"file:{w2}"
    with pytest.raises(OSError):
        open(u1)  # local IO cannot read the URI form
    assert C._header(u1, spark) == ["α", "β"]
    assert C._header(u2, spark) == ["β", "α"]
    # a real drift still raises, now with correctly-decoded names
    with pytest.raises(ValueError, match="schema mismatch"):
        C.read_csv_group(spark, [u1, u2])


def test_combine_header_check_distributed_large_group(spark, tmp_path):
    """A 70-file group takes the same pre-scan LIKE-first check as a
    2-file one: a clean group reads whole with the first file's names,
    and a drifted member fails ``read_csv_group`` itself with the exact
    schema-mismatch ValueError."""
    import pytest

    from postgresimporter_spark.sources import csv as C

    n = 64 + 6
    good = tmp_path / "big"
    good.mkdir()
    files = []
    for i in range(n):
        f = good / f"t_{i}.csv"
        # two data rows per file: the drifted-group reconciliation
        # diff (2n = 140) must exceed the reference tolerance of 100
        f.write_text(f"a,b,c\n{i},2,3\n{i},4,5\n")
        files.append(f)

    df = C.read_csv_group(spark, files)
    assert df.columns == ["a", "b", "c"]  # names from LIKE-first
    assert df.count() == 2 * n

    # drifted member: the pre-scan check raises, at any group size
    files[n // 2].write_text("c,a,b\n30,10,20\n")
    with pytest.raises(ValueError, match="schema mismatch"):
        C.read_csv_group(spark, files)
    with pytest.raises(ValueError, match="schema mismatch"):
        C.read_csv_group(spark, [files[0], files[n // 2]])

    # end-to-end pipeline parity: a drifted LARGE group must stay
    # log-and-continue — the combine fails (logged), the combined
    # view never lands in sink_written, reconciliation counts it 0
    # via the db_row_counts fallback, and the gate FAILS loudly while
    # the run completes (reference: combine failure -> diff reported).
    sink = tmp_path / "sink"
    r = run_pipeline(
        spark,
        PipelineConfig(
            sources=[good], combine_tables=True, sink_dir=sink
        ),
    )
    assert "import_t" not in r.sink_written
    assert not r.check_passed
    row = {x.table: x for x in r.report.collect()}["t"]
    # 2 rows per clean file, 1 in the drifted member
    assert row.db_rows == 0 and row.difference == row.csv_rows == 2 * n - 1


def test_combine_utf16_large_group_scan_validation(spark, tmp_path):
    """The header check and the encoding sniff compose on a 66-file
    group: a UTF-16 prefix group combines with true column names and
    values, and a drifted UTF-16 member still fails loudly."""
    import codecs

    import pytest

    from postgresimporter_spark.sources import csv as C

    n = 64 + 2
    d = tmp_path / "u16grp"
    d.mkdir()
    for i in range(n):
        (d / f"u_{i:03d}.csv").write_bytes(
            codecs.BOM_UTF16_LE + f"a,b\n{i},x\n".encode("utf-16-le")
        )
    files = sorted(d.glob("*.csv"))
    df = C.read_csv_group(spark, files)
    assert df.columns == ["a", "b"]
    assert df.count() == n
    (d / f"u_{n // 2:03d}.csv").write_bytes(
        codecs.BOM_UTF16_LE + "b,a\nx,0\n".encode("utf-16-le")
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        C.read_csv_group(spark, files)


def test_combine_unreadable_likefirst_large_group_fails_loudly(
    spark, tmp_path
):
    """An unreadable member header fails the group, naming the file,
    at any group size: combining it would be combining positionally
    unverified. Checked on a 66-file group and on a 2-file group."""
    import pytest

    from postgresimporter_spark.sources import csv as C

    n = 64 + 2
    d = tmp_path / "biggrp"
    d.mkdir()
    bad = d / "t_000.csv"
    bad.mkdir()  # a directory: header unreadable both locally and via FS
    files = [bad]
    for i in range(1, n):
        f = d / f"t_{i:03d}.csv"
        f.write_text("a,b\n1,2\n")
        files.append(f)
    with pytest.raises(ValueError, match="LIKE-first header"):
        C.read_csv_group(spark, files)
    # 2-file groups take the same rule, whichever member is unreadable
    for pair in ([bad, files[1]], [files[1], bad]):
        with pytest.raises(ValueError, match=re.escape(str(bad))):
            C.read_csv_group(spark, pair)


def test_combined_sink_threshold_boundary(spark, tmp_path):
    """Groups of 63 and 64 members (the size where the combined-sink
    write once switched strategy) must write the SAME combined table
    for clean groups, and both must stay loud on a drifted member
    (combine fails, reconciliation reports the diff)."""
    size = 64
    combined: dict[int, list] = {}
    for n in (size - 1, size):
        # distinct table prefix per scenario: each run registers
        # import_<prefix> views in the shared session catalog, and a
        # stale same-named view from an earlier run would satisfy the
        # later run's db-side count
        src = tmp_path / f"clean_{n}"
        src.mkdir()
        for i in range(n):
            (src / f"c{n}_{i:03d}.csv").write_text(f"a,b\n{i},x\n")
        sink = tmp_path / f"sink_{n}"
        r = run_pipeline(
            spark,
            PipelineConfig(
                sources=[src], combine_tables=True, sink_dir=sink
            ),
        )
        assert r.check_passed
        assert f"import_c{n}" in r.sink_written
        got = spark.read.parquet(str(sink / f"import_c{n}"))
        assert got.columns == ["a", "b"]
        combined[n] = sorted((row.a, row.b) for row in got.collect())
    # identical combined tables either side of the switch
    expect_small = [(str(i), "x") for i in range(size - 1)]
    assert combined[size - 1] == sorted(expect_small)
    assert combined[size] == sorted(
        expect_small + [(str(size - 1), "x")]
    )

    # drifted member: loud on BOTH sides of the boundary
    for n in (size - 1, size):
        src = tmp_path / f"drift_{n}"
        src.mkdir()
        for i in range(n):
            # two data rows per file: the drifted-group reconciliation
            # diff (~2n > 125) must exceed the reference tolerance of 100
            (src / f"d{n}_{i:03d}.csv").write_text(f"a,b\n{i},x\n{i},y\n")
        (src / f"d{n}_{n // 2:03d}.csv").write_text("b,a\nx,0\n")
        sink = tmp_path / f"sink_drift_{n}"
        r = run_pipeline(
            spark,
            PipelineConfig(
                sources=[src], combine_tables=True, sink_dir=sink
            ),
        )
        assert f"import_d{n}" not in r.sink_written
        assert not r.check_passed


def test_distributed_zip_extraction_corrupt_and_chunked(spark, tmp_path):
    """r11 probe fixes for the S2 scale path: a corrupt archive emits
    ONE error-marker row instead of aborting the whole job (driver-path
    log-and-continue parity, reference main.py:376-404), healthy
    archives are unaffected, and extracted members stream out in
    bounded chunks."""
    import zipfile as _zip

    from pyspark.sql import functions as F

    from postgresimporter_spark import rowmap
    from postgresimporter_spark.sources import zips as Z

    with _zip.ZipFile(tmp_path / "good_1.zip", "w") as zf:
        zf.writestr("a.csv", "x,y\n1,2\n")
        zf.writestr("sub/", "")          # dir entry: skipped
        zf.writestr("b.csv", "x,y\n3,4\n")
    (tmp_path / "bad_1.zip").write_bytes(b"PK\x03\x04 not a zip")

    out = Z.extract_zips_distributed(spark, f"{tmp_path}/*.zip")
    rows = out.collect()
    ok = sorted(r.member for r in rows if r.error is None)
    bad = [(r.archive.split("/")[-1], r.member, r.error) for r in rows if r.error is not None]
    assert ok == ["a.csv", "b.csv"]
    assert len(bad) == 1 and bad[0][0] == "bad_1.zip" and bad[0][1] is None
    assert "BadZipFile" in bad[0][2]

    # chunked yields: force a tiny flush threshold and confirm content
    # is complete and exact regardless of chunk boundaries
    old = rowmap._FLUSH_BYTES
    rowmap._FLUSH_BYTES = 1
    try:
        out2 = Z.extract_zips_distributed(spark, f"{tmp_path}/good_1.zip")
        got = {
            r.member: bytes(r.content)
            for r in out2.where(F.col("error").isNull()).collect()
        }
    finally:
        rowmap._FLUSH_BYTES = old
    assert got == {"a.csv": b"x,y\n1,2\n", "b.csv": b"x,y\n3,4\n"}


def test_head_guards_work_via_hadoop_fs(spark, tmp_path):
    """The encoding sniff and the quoted-newline probe keep working for
    paths local IO cannot open (r11, same hole as the header check):
    file:/ URIs route through the Hadoop FileSystem bulk read. An
    unreadable path gives None (unprobed), never an exception; the
    ingest then reads it as UTF-8 and warns that it is unprobed."""
    from postgresimporter_spark.sources.csv import (
        _encoding_of,
        _probe_heads,
        _quoted_newline_in_head,
        read_csv_all_text,
    )

    dirty = tmp_path / "dirty.csv"
    dirty.write_text('a,b\n"line1\nline2",2\n')
    clean = tmp_path / "clean.csv"
    clean.write_text("a,b\n1,2\n")
    lat = tmp_path / "latin.csv"
    lat.write_bytes("a,b\ncaf\xe9,2\n".encode("latin-1"))

    nope = f"file:{tmp_path}/nope.csv"
    uris = [f"file:{dirty}", f"file:{clean}", nope]
    assert _probe_heads(spark, uris, _quoted_newline_in_head) == {
        f"file:{dirty}": True,
        f"file:{clean}": False,
        nope: None,
    }
    uris = [f"file:{lat}", f"file:{clean}", nope]
    assert _probe_heads(spark, uris, _encoding_of) == {
        f"file:{lat}": "ISO-8859-1",
        f"file:{clean}": "UTF-8",
        nope: None,
    }
    # missing path: read as Spark's default charset, no exception
    assert _encoding_of(None) == "UTF-8"

    # the multiline=False self-guard now fires on URI paths end-to-end
    import pytest

    with pytest.raises(ValueError, match="quoted embedded newline"):
        read_csv_all_text(spark, [f"file:{dirty}"], multiline=False)
