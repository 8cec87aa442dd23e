"""The 6-stage load pipeline (reference ``Loader.load``, main.py:308-374).

Stages (reference order preserved):

  0. pre-load SQL hooks
  1. unzip archives (idempotent skip unless ``--all``)
  2. discover CSVs -> exclude-regex -> per-file import views (planned
     concurrently, the function library installing meanwhile; views
     registered in discovery order) -> optional prefix combine
  3. post-load SQL hooks
  4. CSV row counting
  5. count reconciliation report (FATAL log if sum of diffs > tolerance)

The "IR" here is the stage DAG in driver Python (as in the reference);
every data-touching step is a declarative DataFrame lineage that Catalyst
plans. Per-file/per-group failures log and continue (reference
main.py:376-404 semantics), never aborting the whole run.
"""

from __future__ import annotations

import contextlib
import logging
import re
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig
from .discovery import discover_csvs, discover_zips
from .functions import register_all
from .naming import file_table_name, import_view_name
from .reconcile import reconciliation_report
from .sources.csv import read_csv_all_text, read_csv_group

log = logging.getLogger(__name__)

# Width of the driver-thread pools that overlap independent Spark jobs
# (per-file import planning, sink writes, sink counts). Spark's
# scheduler interleaves the jobs; the width only bounds driver threads.
DRIVER_POOL_WIDTH = 16


@dataclass
class LoadResult:
    file_views: dict[str, DataFrame] = field(default_factory=dict)
    combined_views: dict[str, DataFrame] = field(default_factory=dict)
    table_csv_files: dict[str, list[Path]] = field(default_factory=dict)
    csv_counts: dict[str, int] = field(default_factory=dict)
    report: DataFrame | None = None
    check_passed: bool = True
    # Views whose parquet sink write SUCCEEDED this run; with a parquet
    # sink, these are the only import views left in the session, each
    # read from its sink directory.
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


def run_sql_hooks(spark: SparkSession, scripts: list[Path], db=None) -> None:
    """Execute hook SQL, psql-style (reference exec.py:97-131).

    Each script is split quote- and dollar-aware and its statements run
    one at a time: through ``spark.sql`` against the session catalog,
    or, with ``db`` (DbOptions), one Query each on a connection to the
    sink Postgres. A failing statement is logged and the REST OF THE
    SCRIPT continues — psql's per-statement autocommit with
    continue-on-error; an unreadable script or a failed connection is
    logged and the next script runs."""
    for script in scripts:
        try:
            statements = split_sql_statements(script.read_text())
            with contextlib.ExitStack() as stack:
                if db is None:
                    execute = spark.sql
                else:
                    from .sources.pgwire import connect

                    execute = stack.enter_context(connect(db)).query
                for stmt in statements:
                    try:
                        execute(stmt)
                    except Exception:  # noqa: BLE001
                        log.exception(
                            "hook statement failed (continuing): %s: %.80s",
                            script,
                            stmt,
                        )
        except Exception:  # noqa: BLE001
            log.exception("hook script failed: %s", script)


class Loader:
    """Spark-native counterpart of reference ``Loader`` (main.py:28-404)."""

    def __init__(self, spark: SparkSession, config: PipelineConfig):
        self.spark = spark
        self.config = config

    def load(self) -> LoadResult:
        cfg = self.config
        result = LoadResult()

        # Step 0: pre-load hooks (main.py:312-329). With a Postgres
        # sink they run against the DB (reference semantics: psql);
        # engine-native runs use spark.sql.
        run_sql_hooks(self.spark, _sql_scripts(cfg.pre_load), cfg.db)

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

        # Kick the reconciliation's CSV line count off NOW on a driver
        # thread (r14, guide §2.6 "overlap independent jobs"): the
        # count reads the raw dump files and depends on nothing the
        # import/sink steps produce, while the sink writes' task tails
        # leave executors idle that this one distributed job
        # back-fills. Joined at the reconciliation step below — the
        # report is byte-identical, only the wall clock overlaps. The
        # DB-side count is NOT overlapped: it reads the materialized
        # sink, which exists only after write_sink.
        csv_counts_async = None
        if not cfg.disable_check and result.table_csv_files:
            from .reconcile import csv_row_counts

            pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="csv-count"
            )
            csv_counts_async = pool.submit(
                csv_row_counts, self.spark, result.table_csv_files
            )
            pool.shutdown(wait=False)

        # Step 2: import (main.py:334-335 -> 171-213); --all overrides.
        # Only the per-file LOAD is gated — function installation and
        # combine run unconditionally in the reference (main.py:195-213:
        # the disable gate wraps import_data alone).
        #
        # Each per-file read blocks on its own one-task header-inference
        # job, so the reads are planned from driver threads (the
        # reference runs one pgfutter per file, all at once,
        # main.py:491-542) and the function library installs meanwhile.
        # Views are registered afterwards on this thread in discovery
        # order, so file_views order, last-file-wins on colliding names
        # and log-and-continue are those of a serial loop.
        files = (
            d.dump_files if not cfg.disable_import or cfg.process_all else []
        )
        with ThreadPoolExecutor(
            max_workers=DRIVER_POOL_WIDTH, thread_name_prefix="import"
        ) as pool:
            futures = [
                pool.submit(
                    read_csv_all_text,
                    self.spark,
                    f,
                    multiline=cfg.csv_multiline,
                )
                for f in files
            ]
            # install packaged function library (main.py:202-208)
            register_all(self.spark)
            view_sources: dict[str, Path] = {}
            for f, fut in zip(files, futures):
                view = import_view_name(file_table_name(f))
                try:
                    df = fut.result()
                    df.createOrReplaceTempView(view)
                except Exception:  # noqa: BLE001
                    log.exception("import failed: %s", f)
                    # an earlier load's view of this name must not
                    # stand in for the failed file; one this load
                    # registered stays (last-file-wins)
                    if view not in view_sources:
                        self.spark.catalog.dropTempView(view)
                    continue
                if view in view_sources:
                    log.warning(
                        "view %s: %s replaces %s (file names collide)",
                        view,
                        f,
                        view_sources[view],
                    )
                view_sources[view] = f
                result.file_views[view] = df

        # combine (main.py:210-248)
        if cfg.combine_tables:
            self._combine(d.table_csv_files, result)

        # Step 2.5: materialize to the sink BEFORE post-hooks/check —
        # the reference loads into Postgres during import (pgfutter,
        # main.py:491-542), so its post-load hooks and reconciliation
        # see the data in the DB. A parquet sink re-points each view at
        # what this run wrote and drops the views that did not land.
        if cfg.db is not None or cfg.sink_dir is not None:
            self.write_sink(result)

        # Step 3: post-load hooks (main.py:337-356)
        run_sql_hooks(self.spark, _sql_scripts(cfg.post_load), cfg.db)

        # Steps 4+5: counts + reconciliation (main.py:358-369); with a
        # Postgres sink the DB side counts come from the sink itself.
        if not cfg.disable_check and result.table_csv_files:
            report, passed, csv_counts = reconciliation_report(
                self.spark,
                result.table_csv_files,
                tolerance=cfg.check_tolerance,
                db=cfg.db,
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

    def _combine(
        self, groups: dict[str, list[Path]], result: LoadResult
    ) -> None:
        """Prefix combine (O1). Skips groups whose combined name collides
        with a member file's table name (reference main.py:222-226);
        schema mismatch fails the group, logged, others continue."""
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
                    members=[
                        result.file_views.get(
                            import_view_name(file_table_name(f))
                        )
                        for f in files
                    ],
                    multiline=self.config.csv_multiline,
                )
                view = import_view_name(table)
                df.createOrReplaceTempView(view)
                result.combined_views[view] = df
            except Exception:  # noqa: BLE001
                log.exception("combine failed for table %s", table)
                # an earlier load's combined view must not stand in
                self.spark.catalog.dropTempView(import_view_name(table))

    def write_sink(self, result: LoadResult) -> None:
        """Materialize import views to the configured sink.

        Postgres sink default is the COPY wire protocol (pgfutter-class
        throughput, no driver jar needed); ``db_protocol="jdbc"`` opts
        into Spark's JDBC writer. Per-table failures are logged and the
        rest of the tables continue (reference main.py:376-404 never
        aborts the whole run on one table)."""
        cfg = self.config
        if cfg.db is not None:
            if cfg.db_protocol == "jdbc":
                from .sources.jdbc import write_table as _write
            else:
                from .sources.copy_sink import copy_write as _write

            for view, df in {**result.file_views, **result.combined_views}.items():
                try:
                    _write(df, cfg.db, view.removeprefix("import_"))
                except Exception:  # noqa: BLE001
                    log.exception("sink write failed for %s", view)
        elif cfg.sink_dir is not None:
            # Writes run concurrently from driver threads (Spark's
            # scheduler interleaves the jobs): per-FILE views are
            # single-split CSV scans, so sequential writes would leave
            # the cluster 1-task busy per job — concurrency restores
            # ingest parallelism across files, the same effective shape
            # as the reference's per-file pgfutter processes.
            #
            # The sink is the table: once a view's write lands, the view
            # is re-pointed at what this run wrote (read under its known
            # schema, so no footer inference), so post-load hooks and
            # the check read the sink. Done on the writing thread, so
            # the re-points overlap like the writes do.
            landed: dict[str, DataFrame] = {}

            def _write_one(view, df):
                try:
                    path = str(cfg.sink_dir / view)
                    df.write.mode("overwrite").parquet(path)
                    sink_df = self.spark.read.schema(df.schema).parquet(path)
                    sink_df.createOrReplaceTempView(view)
                    landed[view] = sink_df
                    # Bucketed CTAS: additionally persist views carrying
                    # all bucket columns as bucketed+sorted catalog
                    # tables, so downstream joins/aggs on the key are
                    # exchange-free — the shuffle is paid ONCE here,
                    # not per query.
                    if cfg.bucket_by and set(cfg.bucket_by) <= set(
                        df.columns
                    ):
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
                            log.exception(
                                "bucketed sink failed for %s", view
                            )
                except Exception:  # noqa: BLE001 - log-and-continue
                    log.exception("sink write failed for %s", view)

            # Per-file views first (the only CSV parse of the run),
            # combined prefix views as soon as THEIR members land — a
            # per-view dependency, not a global barrier, so one slow
            # file never stalls an unrelated prefix group's combine.
            # File tasks never wait on anything, so a combined task
            # blocking on its members cannot deadlock the pool.
            #
            # A combined view is the UNION ALL of its member tables
            # (strict LIKE-first schema), written from their parquet in
            # one scan under the checked schema. A member that did not
            # land fails the combine, as the reference's UNION over a
            # missing member table does (main.py:228-236).
            def _write_combined(view, csv_df):
                table = view.removeprefix("import_")
                members = [
                    import_view_name(file_table_name(f))
                    for f in result.table_csv_files.get(table, [])
                ]
                for m in members:
                    if m in file_futures:
                        file_futures[m].result()
                missing = [m for m in members if m not in landed]
                if missing:
                    log.error(
                        "combine failed for table %s: %s not written",
                        table,
                        ", ".join(missing),
                    )
                    return
                try:
                    df = self.spark.read.schema(csv_df.schema).parquet(
                        *[str(cfg.sink_dir / m) for m in members]
                    )
                except Exception:  # noqa: BLE001
                    log.exception("combine failed for table %s", table)
                    return
                _write_one(view, df)

            with ThreadPoolExecutor(max_workers=DRIVER_POOL_WIDTH) as pool:
                file_futures = {
                    view: pool.submit(_write_one, view, df)
                    for view, df in result.file_views.items()
                }
                combined_futures = [
                    pool.submit(_write_combined, view, df)
                    for view, df in result.combined_views.items()
                ]
                for fut in [*file_futures.values(), *combined_futures]:
                    fut.result()

            # A view that did not land leaves the session, so the check
            # counts it 0 instead of its CSV rows.
            result.sink_written.update(landed)
            for views in (result.file_views, result.combined_views):
                for view in views:
                    if view in landed:
                        views[view] = landed[view]
                    else:
                        self.spark.catalog.dropTempView(view)


def run_pipeline(
    spark: SparkSession, config: PipelineConfig
) -> LoadResult:
    loader = Loader(spark, config)
    # load() writes the sink itself (step 2.5) so that post-load hooks
    # and the reconciliation check observe the sink state, exactly like
    # the reference's psql-hooks-after-pgfutter ordering.
    return loader.load()
