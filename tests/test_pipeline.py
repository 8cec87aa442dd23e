"""End-to-end pipeline tests: the reference's animals golden
(README.md:75-105, FIXTURES.md §1) plus stage-toggle semantics."""

from __future__ import annotations

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
    """At 64+ files (``_DISTRIBUTED_HEAD_MIN``) csvcount fetches every
    head in ONE distributed job instead of the serial per-file driver
    loop (r14, VERDICT r13 #2). Same per-file encoding detection, same
    counts — including a UTF-16 file whose quoted newline must not
    shear — just fetched executor-side."""
    import codecs
    import json

    from postgresimporter_spark.csvcount import main as csvcount_main
    from postgresimporter_spark.sources.csv import _DISTRIBUTED_HEAD_MIN

    n = _DISTRIBUTED_HEAD_MIN
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
    """The multiline=False quoted-newline assert also scale-switches
    at 64+ paths to one distributed head-probe job (r14): a dirty file
    hidden in a large group still raises LOUDLY, and an all-clean
    large group loads split with correct rows."""
    import pytest

    from postgresimporter_spark.sources.csv import (
        _DISTRIBUTED_HEAD_MIN,
        read_csv_all_text,
    )

    n = _DISTRIBUTED_HEAD_MIN
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
    # the function library installs even when the import is disabled
    spark.sql("DROP TEMPORARY FUNCTION IF EXISTS parse_date")
    cfg = PipelineConfig(sources=[animals_dir], disable_import=True)
    result = run_pipeline(spark, cfg)
    assert result.file_views == {}
    assert result.report is not None  # check stage ran
    assert set(result.table_csv_files) == {"animals"}
    (d,) = spark.sql("SELECT parse_date('01-JAN-20')").collect()[0]
    assert str(d) == "2020-01-01"


def test_colliding_view_names_last_file_wins(spark, tmp_path, caplog):
    """a.b.csv and a_b.csv both name import_a_b: the later file in
    discovery order owns the view (as in a serial import loop, however
    the concurrent reads finish), and the replacement is logged with
    both paths."""
    (tmp_path / "a.b.csv").write_text("v\ndot\n")
    (tmp_path / "a_b.csv").write_text("v\nunderscore1\nunderscore2\n")
    with caplog.at_level("WARNING", logger="postgresimporter_spark"):
        result = run_pipeline(spark, PipelineConfig(sources=[tmp_path]))
    assert list(result.file_views) == ["import_a_b"]
    rows = sorted(r.v for r in spark.table("import_a_b").collect())
    assert rows == ["underscore1", "underscore2"]
    (msg,) = [m for m in caplog.messages if "collide" in m]
    assert str(tmp_path / "a.b.csv") in msg
    assert str(tmp_path / "a_b.csv") in msg


def test_concurrent_import_failure_and_order(
    spark, tmp_path, monkeypatch, caplog
):
    """One failing per-file read among five is logged for that file
    only; the other views keep discovery order even when earlier files
    finish planning last, and the reconciliation still runs."""
    import time

    from postgresimporter_spark import pipeline

    names = [f"cimp{i}" for i in range(5)]
    for n in names:
        (tmp_path / f"{n}.csv").write_text(f"k\n{n}\n")
    real = pipeline.read_csv_all_text

    def flaky(spark_, path, **kw):
        i = names.index(Path(path).stem)
        if i == 2:
            raise OSError("unreadable dump")
        time.sleep(0.1 * (4 - i))  # earlier files finish later
        return real(spark_, path, **kw)

    monkeypatch.setattr(pipeline, "read_csv_all_text", flaky)
    with caplog.at_level("ERROR", logger="postgresimporter_spark"):
        result = run_pipeline(spark, PipelineConfig(sources=[tmp_path]))
    failed = [m for m in caplog.messages if m.startswith("import failed")]
    assert failed == [f"import failed: {tmp_path / 'cimp2.csv'}"]
    assert list(result.file_views) == [
        "import_cimp0",
        "import_cimp1",
        "import_cimp3",
        "import_cimp4",
    ]
    assert result.report is not None
    report = {
        r.table: (r.csv_rows, r.db_rows) for r in result.report.collect()
    }
    assert report == {
        "cimp0": (1, 1),
        "cimp1": (1, 1),
        "cimp2": (1, 0),
        "cimp3": (1, 1),
        "cimp4": (1, 1),
    }


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


def test_db_row_counts_ignores_stale_sink(spark, tmp_path, monkeypatch):
    """The table side counts the import view and nothing else: a sink
    directory left by a previous run, with no view pointing at it,
    counts 0 and is never read."""
    import pyspark.sql.readwriter as rw

    from postgresimporter_spark.reconcile import db_row_counts

    sink = tmp_path / "sink"
    spark.range(10).toDF("x").write.parquet(str(sink / "import_animals"))
    spark.catalog.dropTempView("import_animals")

    reads: list[tuple] = []
    orig_read = rw.DataFrameReader.parquet

    def spy(self, *paths, **k):
        reads.append(paths)
        return orig_read(self, *paths, **k)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", spy)
    assert db_row_counts(spark, ["animals"]) == {"animals": 0}
    assert reads == []


def test_db_row_counts_logs_failed_count(spark, caplog):
    """A count that raises is reported as 0 (the diff still shows) and
    logged with the table and the error."""
    from postgresimporter_spark.reconcile import db_row_counts

    with caplog.at_level("WARNING", logger="postgresimporter_spark"):
        counts = db_row_counts(spark, ["no_such_table_xyz"])
    assert counts == {"no_such_table_xyz": 0}
    (msg,) = [m for m in caplog.messages if "no_such_table_xyz" in m]
    assert "count failed" in msg
    assert "import_no_such_table_xyz" in msg  # the exception's text


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


def _animals_row(result):
    return {r.table: r for r in result.report.collect()}["animals"]


def test_sink_write_failures_fail_the_check(
    spark, animals_dir, tmp_path, monkeypatch
):
    """A table the run failed to write counts 0, as in the reference's
    count(*) over its import schema (main.py:250-306): whether the
    combined write fails, or one member write fails and so the combine
    does, the check fails on ``animals`` with every row missing, and
    no view of the unwritten table is left in the session."""
    import pyspark.sql.readwriter as rw

    orig_write = rw.DataFrameWriter.parquet

    def failing(name):
        def write(self, path, *a, **k):
            if str(path).rstrip("/").endswith(name):
                raise RuntimeError(f"injected write failure: {name}")
            return orig_write(self, path, *a, **k)

        return write

    for i, bad in enumerate(["import_animals", "import_animals_2"]):
        monkeypatch.setattr(rw.DataFrameWriter, "parquet", failing(bad))
        result = run_pipeline(
            spark,
            PipelineConfig(
                sources=[animals_dir],
                combine_tables=True,
                sink_dir=tmp_path / f"sink{i}",
                check_tolerance=0,
            ),
        )
        monkeypatch.setattr(rw.DataFrameWriter, "parquet", orig_write)
        assert bad not in result.sink_written
        assert "import_animals" not in result.sink_written
        assert not spark.catalog.tableExists("import_animals")
        assert not spark.catalog.tableExists(bad)
        assert not result.check_passed
        row = _animals_row(result)
        assert (row.csv_rows, row.db_rows, row.difference) == (3, 0, 3)


def test_failed_combine_or_import_leaves_no_stale_view(
    spark, tmp_path, monkeypatch
):
    """A view an earlier load registered never stands in for this
    load's failed combine or failed file import."""
    from postgresimporter_spark import pipeline

    a, b = tmp_path / "a", tmp_path / "b"
    for d, second in ((a, ANIMALS_2), (b, "name,id\nWallabie,180\n")):
        d.mkdir()
        (d / "animals_1.csv").write_text(ANIMALS_1)
        (d / "animals_2.csv").write_text(second)

    def load(src):
        return run_pipeline(
            spark,
            PipelineConfig(
                sources=[src], combine_tables=True, check_tolerance=0
            ),
        )

    assert load(a).check_passed
    # b's members disagree on their header: the combine fails
    result = load(b)
    assert result.combined_views == {}
    assert not spark.catalog.tableExists("import_animals")
    assert not result.check_passed
    row = _animals_row(result)
    assert (row.csv_rows, row.db_rows, row.difference) == (3, 0, 3)

    # a failed file import drops that name's view from the earlier
    # load, but keeps one this load registered (last-file-wins)
    assert load(a).check_passed
    c = tmp_path / "c"
    for sub in ("x", "y"):
        (c / sub).mkdir(parents=True)
        (c / sub / "other_1.csv").write_text("k\n1\n")
    (c / "x" / "animals_2.csv").write_text(ANIMALS_2)
    read = pipeline.read_csv_all_text

    def flaky(spark_, f, **k):
        if f.name == "animals_2.csv" or f.parent.name == "y":
            raise RuntimeError(f"injected import failure: {f}")
        return read(spark_, f, **k)

    monkeypatch.setattr(pipeline, "read_csv_all_text", flaky)
    result = run_pipeline(spark, PipelineConfig(sources=[c]))
    assert not spark.catalog.tableExists("import_animals_2")
    assert set(result.file_views) == {"import_other_1"}
    assert spark.table("import_other_1").count() == 1


def test_db_hooks_continue_after_failing_statement(
    tmp_path, caplog, monkeypatch
):
    """With a Postgres sink, hook statements run one Query each on a
    sink connection: a failing statement is logged and the rest of the
    script runs; an unreadable script or a failed connection is logged
    and the next script runs (psql's continue-on-error)."""
    from postgresimporter_spark import pipeline
    from postgresimporter_spark.sources import pgwire

    ran: list[str] = []
    connects: list[object] = []

    class FakeConn:
        def __enter__(self):
            return self

        def __exit__(self, *exc):
            ran.append("<closed>")

        def query(self, sql):
            if "boom" in sql:
                raise RuntimeError("injected statement failure")
            ran.append(sql)

    def fake_connect(db):
        connects.append(db)
        if len(connects) == 2:
            raise ConnectionError("injected connection failure")
        return FakeConn()

    one = tmp_path / "one.sql"
    one.write_text("SELECT 1; SELECT boom; SELECT 'a;b'")
    two = tmp_path / "two.sql"
    two.write_text("SELECT 2")
    three = tmp_path / "three.sql"
    three.write_text("SELECT 3")

    db = object()
    monkeypatch.setattr(pgwire, "connect", fake_connect)
    with caplog.at_level("ERROR", logger="postgresimporter_spark"):
        pipeline.run_sql_hooks(
            None, [one, tmp_path / "missing.sql", two, three], db
        )
    assert connects == [db, db, db]
    assert ran == ["SELECT 1", "SELECT 'a;b'", "<closed>", "SELECT 3",
                   "<closed>"]
    text = "\n".join(caplog.messages)
    assert "SELECT boom" in text
    assert "missing.sql" in text
    assert "two.sql" in text


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


def test_reconciliation_failure_injection_bench_scale(
    spark, tmp_path, monkeypatch
):
    """Failure injection on the bench-shaped ingest corpus (VERDICT r08
    #6): after a clean multi-file ingest, a short sink write (200 rows
    lost from one prefix table) must FAIL the tolerance gate and the
    report must localize the delta to exactly that table — the
    reference's FATAL-at->100 semantics (main.py:301-302). The loss is
    injected through the program's own write, so the check reads the
    short table the run actually left in the sink."""
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

    result = run(tmp_path / "sink")
    assert result.check_passed
    assert "import_lineitem" in result.sink_written

    # Inject: the combined lineitem write loses 200 rows.
    orig_write = rw.DataFrameWriter.parquet

    def short_write(self, path, *a, **k):
        if str(path).rstrip("/").endswith("import_lineitem"):
            df = self._df
            self = df.limit(df.count() - 200).write.mode("overwrite")
        return orig_write(self, path, *a, **k)

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", short_write)
    result2 = run(tmp_path / "sink2")
    monkeypatch.setattr(rw.DataFrameWriter, "parquet", orig_write)

    assert "import_lineitem" in result2.sink_written
    rows = {r.table: r for r in result2.report.collect()}
    assert not result2.check_passed
    assert rows["lineitem"].difference == 200
    assert rows["lineitem"].db_rows == rows["lineitem"].csv_rows - 200
    assert all(
        r.difference == 0 for t, r in rows.items() if t != "lineitem"
    )


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
    """Failure injection on the combined sink write at the bench-shaped
    ingest corpus (VERDICT r09 #6 + ADVICE r9 medium). The combined
    table is written from its members' parquet only; like the
    reference's UNION over a missing member table, any failure leaves
    it unwritten, and the check fails on exactly that table:

    1. Baseline clean run — reference content.
    2. One MEMBER parquet write fails -> the combine fails.
    3. The member READ-BACK fails at plan time -> the combine fails
       without aborting write_sink (the ADVICE abort hazard).
    4. The combined WRITE fails at action time -> no retry."""
    import pyspark.sql.readwriter as rw

    import bench
    from postgresimporter_spark.sources.csv import read_csv_group

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

    def assert_lineitem_lost(r, sink):
        assert "import_lineitem" not in r.sink_written
        assert not (sink / "import_lineitem").exists()
        assert not r.check_passed
        rows = {x.table: x for x in r.report.collect()}
        assert rows["lineitem"].db_rows == 0
        assert rows["lineitem"].difference == rows["lineitem"].csv_rows > 0
        assert all(
            x.difference == 0 for t, x in rows.items() if t != "lineitem"
        )

    # 1. clean baseline
    r0 = run(tmp_path / "sink0")
    assert r0.check_passed
    assert "import_lineitem" in r0.sink_written
    # the parquet-built combined table equals the CSV group scan
    want = sorted(
        tuple(r)
        for r in read_csv_group(
            spark, r0.table_csv_files["lineitem"]
        ).collect()
    )
    assert _combined_rows(
        spark, tmp_path / "sink0" / "import_lineitem"
    ) == want

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
    assert_lineitem_lost(r2, tmp_path / "sink2")

    # 3. the combined read of the member parquet fails at plan time
    def fail_member_read(self, *paths, **k):
        if len(paths) > 1 and any(
            "sink3" in str(p) and "import_lineitem_" in str(p)
            for p in paths
        ):
            raise RuntimeError("injected member read-back failure")
        return orig_read(self, *paths, **k)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", fail_member_read)
    r3 = run(tmp_path / "sink3")
    monkeypatch.setattr(rw.DataFrameReader, "parquet", orig_read)
    assert "import_lineitem_3" in r3.sink_written  # members landed
    assert_lineitem_lost(r3, tmp_path / "sink3")

    # 4. the combined write fails once at action time: not retried
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
    assert_lineitem_lost(r4, tmp_path / "sink4")


def test_csv_no_multiline_probe_catches_quoted_newline(spark, tmp_path):
    """The multiline=False splittability lever is self-guarding
    (VERDICT r09 #5): a corpus whose sample window contains a quoted
    embedded newline fails LOUDLY instead of silently shearing rows;
    quote-free and quoted-but-newline-free corpora still load split."""
    import pytest

    from postgresimporter_spark.sources.csv import (
        has_quoted_newline,
        read_csv_all_text,
    )

    dirty = tmp_path / "dirty.csv"
    dirty.write_text('name,notes\nGrizzly,"likes\nsalmon"\n')
    clean = tmp_path / "clean.csv"
    clean.write_text('name,notes\nGrizzly,"likes salmon, a lot"\n')

    assert has_quoted_newline(dirty)
    assert not has_quoted_newline(clean)
    # "" escape does not confuse the quote state machine
    escaped = tmp_path / "escaped.csv"
    escaped.write_text('name,notes\nGrizzly,"says ""grr"" often"\n')
    assert not has_quoted_newline(escaped)

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
    open (r11: on cluster storage — s3://, hdfs:// — an old check
    silently skipped itself and a permuted header combined
    misassigned). The check compares the columns Spark read, so
    file:/ URIs go through the same Hadoop FileSystem as the scan."""
    import pytest

    from postgresimporter_spark.sources.csv import (
        read_csv_all_text,
        read_csv_group,
    )

    p1, p2 = tmp_path / "h_1.csv", tmp_path / "h_2.csv"
    p1.write_text("a,b,c\n1,2,3\n")
    p2.write_text("c,a,b\n30,10,20\n")
    u1, u2 = f"file:{p1}", f"file:{p2}"
    with pytest.raises(OSError):
        open(u1)  # local IO cannot read the URI form
    assert read_csv_all_text(spark, u1).columns == ["a", "b", "c"]
    assert read_csv_all_text(spark, u2).columns == ["c", "a", "b"]
    with pytest.raises(ValueError, match="schema mismatch"):
        read_csv_group(spark, [u1, u2])
    # matching URIs pass the check and read combined
    assert read_csv_group(spark, [u1, f"file:{p1}"]).count() == 2


def test_header_quoted_newline_spanning_sample_boundary(spark, tmp_path):
    """ADVICE r12: a quoted header field with an embedded newline whose
    closing quote falls PAST the 64KB head sample must still come back
    whole — a truncated partial record must never pass as the header.
    Spark parses the whole first record, so the group check sees the
    true names."""
    from postgresimporter_spark.sources.csv import (
        read_csv_all_text,
        read_csv_group,
    )

    giant = "x" * 40_000 + "\n" + "y" * 40_000  # quote closes past 64KB
    p = tmp_path / "giant_header_1.csv"
    p.write_text(f'"{giant}",second\n1,2\n')
    assert read_csv_all_text(spark, p).columns == [giant, "second"]
    p2 = tmp_path / "giant_header_2.csv"
    p2.write_text(f'"{giant}",second\n3,4\n')
    got = read_csv_group(spark, [p, p2])
    assert got.columns == [giant, "second"]
    assert sorted(tuple(r) for r in got.collect()) == [("1", "2"), ("3", "4")]

    # control: a quoted newline that completes early parses the same way
    q = tmp_path / "small_header_1.csv"
    q.write_text('"a\nb",second\n1,2\n')
    assert read_csv_all_text(spark, q).columns == ["a\nb", "second"]


def test_head_guards_one_read_per_path_and_utf16_remote(
    spark, tmp_path, monkeypatch
):
    """r12 (ADVICE r11): the head-sampling guards — quoted-newline
    shear probe, encoding sniff — share ONE head fetch per file, also
    across a group's member reads and its combined scan (on cluster
    storage each fetch is a Hadoop FileSystem open+read); and UTF-16
    headers read through the Hadoop FS come back with their true names
    (an earlier driver header parser hardcoded utf-8 there and raised a
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
    monkeypatch.setattr(C, "_head_bytes", real)

    # UTF-16 (BOM) headers through the Hadoop-FS path: true names out
    w1, w2 = tmp_path / "w_1.csv", tmp_path / "w_2.csv"
    w1.write_bytes("α,β\n1,2\n".encode("utf-16"))
    w2.write_bytes("β,α\n20,10\n".encode("utf-16"))
    u1, u2 = f"file:{w1}", f"file:{w2}"
    with pytest.raises(OSError):
        open(u1)  # local IO cannot read the URI form
    assert C.read_csv_all_text(spark, u1).columns == ["α", "β"]
    assert C.read_csv_all_text(spark, u2).columns == ["β", "α"]
    # a real drift still raises, with correctly-decoded names
    with pytest.raises(ValueError, match="schema mismatch"):
        C.read_csv_group(spark, [u1, u2])


def test_combine_header_check_distributed_large_group(spark, tmp_path):
    """Large groups (70 files) get the same exact check as small ones:
    a drifted member — permuted, or differing only in case — fails
    read_csv_group loudly at plan time, and a clean group reads every
    row under the first file's names."""
    import pytest

    from postgresimporter_spark.sources import csv as C

    n = 70
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

    # drifted member: the check fires before any scan, loudly
    files[n // 2].write_text("c,a,b\n30,10,20\n")
    with pytest.raises(ValueError, match="schema mismatch.*header"):
        C.read_csv_group(spark, files)

    # case-only drift is drift too (Spark's own header validation
    # compares names case-insensitively and would combine it)
    cased = tmp_path / "cased"
    cased.mkdir()
    cfiles = []
    for i in range(n):
        f = cased / f"k_{i}.csv"
        f.write_text(("ID,b" if i == n - 1 else "id,b") + f"\n{i},x\n")
        cfiles.append(f)
    with pytest.raises(ValueError, match="schema mismatch.*header"):
        C.read_csv_group(spark, cfiles)

    # small groups raise the same way
    with pytest.raises(ValueError, match="schema mismatch"):
        C.read_csv_group(spark, [files[0], files[n // 2]])

    # end-to-end pipeline parity: a drifted LARGE group must stay
    # log-and-continue — the combine fails (logged), the combined view
    # never lands in sink_written, reconciliation counts it 0, and the
    # gate FAILS loudly while the run completes (reference: combine
    # failure -> diff reported).
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
    """r13 probe pin: the header check and the encoding sniff compose
    at large group sizes — a 66-file UTF-16 prefix group combines with
    true column names and values, and a drifted UTF-16 member still
    fails loudly."""
    import codecs

    import pytest

    from postgresimporter_spark.sources import csv as C

    n = 66
    d = tmp_path / "u16grp"
    d.mkdir()
    for i in range(n):
        (d / f"u_{i:03d}.csv").write_bytes(
            codecs.BOM_UTF16_LE + f"a,b\n{i},x\n".encode("utf-16-le")
        )
    files = sorted(d.glob("*.csv"))
    df = C.read_csv_group(spark, files)
    assert df.columns == ["a", "b"]
    assert sorted(int(r.a) for r in df.collect()) == list(range(n))
    (d / f"u_{n // 2:03d}.csv").write_bytes(
        codecs.BOM_UTF16_LE + "b,a\nx,0\n".encode("utf-16-le")
    )
    with pytest.raises(ValueError, match="schema mismatch.*header"):
        C.read_csv_group(spark, files)


def test_combine_unreadable_likefirst_large_group_fails_loudly(
    spark, tmp_path
):
    """r13 (VERDICT r12 #3): a 66-file group whose LIKE-first member
    Spark cannot read must RAISE, never combine positionally
    unverified — and so must a group with an unreadable later
    member (the reference's UNION over a missing member table fails
    too)."""
    import pytest

    from postgresimporter_spark.sources import csv as C

    n = 66
    d = tmp_path / "biggrp"
    d.mkdir()
    bad = d / "t_000.csv"
    bad.mkdir()  # a directory: no header Spark can read
    files = [bad]
    for i in range(1, n):
        f = d / f"t_{i:03d}.csv"
        f.write_text("a,b\n1,2\n")
        files.append(f)
    with pytest.raises(Exception, match="(?i)infer schema"):
        C.read_csv_group(spark, files)
    with pytest.raises(Exception, match="(?i)infer schema"):
        C.read_csv_group(spark, [*files[1:], bad])


def test_combined_sink_threshold_boundary(spark, tmp_path):
    """r13 (VERDICT r12 #8): combined-sink writes of clean 63- and
    64-member groups (once either side of a since-removed strategy
    switch) give the same table, and a drifted member stays loud at
    both sizes (combine fails, reconciliation reports the diff)."""
    combined: dict[int, list] = {}
    for n in (63, 64):
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
    # identical combined tables at both sizes
    expect_small = [(str(i), "x") for i in range(63)]
    assert combined[63] == sorted(expect_small)
    assert combined[64] == sorted(expect_small + [("63", "x")])

    # drifted member: loud at both sizes
    for n in (63, 64):
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


def test_combined_sink_reads_member_parquet_once(
    spark, tmp_path, monkeypatch
):
    """The combined sink write of an N-member group reads its members'
    parquet with ONE DataFrameReader.parquet call under the checked
    schema. The only other reads of member directories are the
    re-points of each member's own view at its sink."""
    import pyspark.sql.readwriter as rw

    n = 5
    src = tmp_path / "src"
    src.mkdir()
    for i in range(n):
        (src / f"pqonce_{i}.csv").write_text(f"a,b\n{i},x\n")
    sink = tmp_path / "sink"
    member_dirs = {str(sink / f"import_pqonce_{i}") for i in range(n)}
    reads: list[tuple] = []
    orig_read = rw.DataFrameReader.parquet

    def spy(self, *paths, **k):
        if member_dirs & {str(p) for p in paths}:
            reads.append(paths)
        return orig_read(self, *paths, **k)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", spy)
    r = run_pipeline(
        spark,
        PipelineConfig(sources=[src], combine_tables=True, sink_dir=sink),
    )
    assert r.check_passed
    assert "import_pqonce" in r.sink_written
    # one read covers every member directory (the combined write);
    # each other read is one member's view re-pointed at its sink
    combined = [p for p in reads if len(p) > 1]
    assert len(combined) == 1
    assert {str(p) for p in combined[0]} == member_dirs
    singles = sorted(str(p[0]) for p in reads if len(p) == 1)
    assert singles == sorted(member_dirs)
    assert _combined_rows(spark, sink / "import_pqonce") == [
        (str(i), "x") for i in range(n)
    ]


def test_distributed_zip_extraction_corrupt_and_chunked(spark, tmp_path):
    """r11 probe fixes for the S2 scale path: a corrupt archive emits
    ONE error-marker row instead of aborting the whole job (driver-path
    log-and-continue parity, reference main.py:376-404), healthy
    archives are unaffected, and extracted members stream out in
    bounded chunks."""
    import zipfile as _zip

    from pyspark.sql import functions as F

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
    old = Z._EXTRACT_FLUSH_BYTES
    Z._EXTRACT_FLUSH_BYTES = 1
    try:
        out2 = Z.extract_zips_distributed(spark, f"{tmp_path}/good_1.zip")
        got = {
            r.member: bytes(r.content)
            for r in out2.where(F.col("error").isNull()).collect()
        }
    finally:
        Z._EXTRACT_FLUSH_BYTES = old
    assert got == {"a.csv": b"x,y\n1,2\n", "b.csv": b"x,y\n3,4\n"}


def test_head_guards_work_via_hadoop_fs(spark, tmp_path):
    """detect_encoding and has_quoted_newline keep working for paths
    local IO cannot open (r11, same hole as the header check): file:/
    URIs route through the Hadoop FileSystem bulk read. An unreadable
    path degrades to the documented defaults (UTF-8 / False), never an
    exception."""
    from postgresimporter_spark.sources.csv import (
        detect_encoding,
        has_quoted_newline,
        read_csv_all_text,
    )

    dirty = tmp_path / "dirty.csv"
    dirty.write_text('a,b\n"line1\nline2",2\n')
    clean = tmp_path / "clean.csv"
    clean.write_text("a,b\n1,2\n")
    lat = tmp_path / "latin.csv"
    lat.write_bytes("a,b\ncaf\xe9,2\n".encode("latin-1"))

    assert has_quoted_newline(f"file:{dirty}", spark=spark) is True
    assert has_quoted_newline(f"file:{clean}", spark=spark) is False
    assert detect_encoding(f"file:{lat}", spark=spark) == "ISO-8859-1"
    assert detect_encoding(f"file:{clean}", spark=spark) == "UTF-8"
    # missing path: defaults, no exception
    assert detect_encoding(f"file:{tmp_path}/nope.csv", spark=spark) == "UTF-8"
    assert has_quoted_newline(f"file:{tmp_path}/nope.csv", spark=spark) is False

    # the multiline=False self-guard now fires on URI paths end-to-end
    import pytest

    with pytest.raises(ValueError, match="quoted embedded newline"):
        read_csv_all_text(spark, [f"file:{dirty}"], multiline=False)
