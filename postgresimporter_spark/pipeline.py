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
    # Views whose parquet sink write SUCCEEDED this run. Reconciliation
    # only trusts a sink directory listed here — a directory left by a
    # previous run must not stand in for rows this run failed to write.
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


def run_sql_hooks(spark: SparkSession, scripts: list[Path]) -> None:
    """Execute hook SQL against the session catalog (engine-native mode).

    Reference exec.py:97-131 pipes scripts through psql; here each
    statement (quote-aware split) runs through ``spark.sql``. A failing
    statement is logged and the REST OF THE SCRIPT continues — psql's
    default behavior, and the reference's log-and-continue semantics."""
    for script in scripts:
        try:
            statements = split_sql_statements(script.read_text())
        except Exception:  # noqa: BLE001
            log.exception("hook script unreadable: %s", script)
            continue
        for stmt in statements:
            try:
                spark.sql(stmt)
            except Exception:  # noqa: BLE001
                log.exception(
                    "hook statement failed (continuing): %s: %.80s",
                    script,
                    stmt,
                )


def run_sql_hooks_db(db, scripts: list[Path]) -> None:
    """Execute hook SQL against the sink Postgres (reference
    exec.py:97-131 piped scripts through psql). psql's default is
    per-statement autocommit with continue-on-error; we reproduce that:
    quote-and-dollar-aware split, one statement per Query, failures
    logged and the rest of the script continues."""
    from .sources.pgwire import connect

    for script in scripts:
        try:
            statements = split_sql_statements(script.read_text())
        except Exception:  # noqa: BLE001
            log.exception("hook script unreadable: %s", script)
            continue
        try:
            with connect(db) as conn:
                for stmt in statements:
                    try:
                        conn.query(stmt)
                    except Exception:  # noqa: BLE001
                        log.exception(
                            "sink hook statement failed (continuing): "
                            "%s: %.80s",
                            script,
                            stmt,
                        )
        except Exception:  # noqa: BLE001
            log.exception("sink hook connection failed: %s", script)


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
        if cfg.db is not None:
            run_sql_hooks_db(cfg.db, _sql_scripts(cfg.pre_load))
        else:
            run_sql_hooks(self.spark, _sql_scripts(cfg.pre_load))

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
                try:
                    df = fut.result()
                    view = import_view_name(file_table_name(f))
                    df.createOrReplaceTempView(view)
                except Exception:  # noqa: BLE001
                    log.exception("import failed: %s", f)
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
        # see the data in the DB.
        if cfg.db is not None or cfg.sink_dir is not None:
            self.write_sink(result)

        # Step 3: post-load hooks (main.py:337-356)
        if cfg.db is not None:
            run_sql_hooks_db(cfg.db, _sql_scripts(cfg.post_load))
        else:
            run_sql_hooks(self.spark, _sql_scripts(cfg.post_load))

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
            def _write_one(item):
                view, df = item
                try:
                    df.write.mode("overwrite").parquet(
                        str(cfg.sink_dir / view)
                    )
                    # Record success so reconciliation only counts sink
                    # directories THIS run wrote (a stale directory from
                    # a prior run must not mask a failed write).
                    result.sink_written.add(view)
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
            #
            # A combined view is the UNION ALL of its member file
            # views (strict LIKE-first schema), so when every member's
            # parquet just landed, the combined sink is written FROM
            # those parquet files — columnar decode instead of a
            # second full CSV parse of the same bytes (measured -38%
            # on the sf1 ingest spine). Any member missing (its write
            # failed) falls back to the CSV-backed view, so output
            # content never depends on the fast path. File tasks never
            # wait on anything, so a combined task blocking on its
            # members cannot deadlock the pool.
            def _write_combined(view, csv_df):
                table = view.removeprefix("import_")
                members = [
                    import_view_name(file_table_name(f))
                    for f in result.table_csv_files.get(table, [])
                ]
                for m in members:
                    fut = file_futures.get(m)
                    if fut is not None:
                        fut.result()
                # The fast path may only ever trade speed: a member
                # parquet that fails to read back (corrupt or partially-
                # committed dir, transient FS error, analysis error)
                # falls back to the CSV-backed df instead of propagating
                # through fut.result() and aborting the whole write_sink
                # — the log-and-continue contract (reference
                # main.py:376-404). Plan-time failures are caught here;
                # an action-time failure inside _write_one (swallowed
                # there) leaves the view out of sink_written, and the
                # retry below re-writes it from the CSV-backed view.
                df = csv_df
                if members and all(
                    m in result.sink_written for m in members
                ):
                    try:
                        # read_csv_group checked every member's columns
                        # against the first's, so the known schema pins
                        # the column order and skips footer inference
                        df = self.spark.read.schema(csv_df.schema).parquet(
                            *[str(cfg.sink_dir / m) for m in members]
                        )
                    except Exception:  # noqa: BLE001
                        log.exception(
                            "combined fast path failed for %s; "
                            "falling back to CSV-backed view",
                            view,
                        )
                        df = csv_df
                _write_one((view, df))
                if df is not csv_df and view not in result.sink_written:
                    log.warning(
                        "combined fast-path write failed for %s; "
                        "retrying from CSV-backed view",
                        view,
                    )
                    _write_one((view, csv_df))

            with ThreadPoolExecutor(max_workers=DRIVER_POOL_WIDTH) as pool:
                file_futures = {
                    view: pool.submit(_write_one, (view, df))
                    for view, df in result.file_views.items()
                }
                combined_futures = [
                    pool.submit(_write_combined, view, df)
                    for view, df in result.combined_views.items()
                ]
                for fut in [*file_futures.values(), *combined_futures]:
                    fut.result()


def run_pipeline(
    spark: SparkSession, config: PipelineConfig
) -> LoadResult:
    loader = Loader(spark, config)
    # load() writes the sink itself (step 2.5) so that post-load hooks
    # and the reconciliation check observe the sink state, exactly like
    # the reference's psql-hooks-after-pgfutter ordering.
    return loader.load()
