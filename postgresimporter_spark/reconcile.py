"""Row-count reconciliation (reference ``post_load_check``, main.py:250-306).

The reference compares `wc -l` CSV counts against per-table
``SELECT count(*)`` and prints a PrettyTable; FATAL log if the summed
absolute difference exceeds 100 (hard-coded).

Engine version: counts both sides with Spark (one distributed job for
the CSV side, not one subprocess per file; one count per import view
for the table side), returns the report as a DataFrame, and documents
one deliberate deviation: we count *data rows* (the CSV parser handles
quoted newlines), where `wc -l` counted raw lines including the header
(FIXTURES.md §5).

The table side counts whatever ``import_<table>`` names in the session.
With a parquet sink the pipeline has pointed each view at what this run
wrote and dropped the views that did not land, so, as in the reference,
a table the load failed to write counts 0.
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


def csv_row_counts(
    spark: SparkSession, table_csv_files: dict[str, list[Path]]
) -> dict[str, int]:
    """Data-row count per combined table, as ONE distributed job over
    every file (S9/S10 equivalent): per-group sequential counts would
    pay one job setup per prefix group.

    Files are tagged by ``input_file_name`` and grouped with the same
    prefix-derivation expression used on the driver, so group keys match
    the discovery grouping exactly.
    """
    from pyspark.sql import functions as F

    all_files = sorted({f for fs in table_csv_files.values() for f in fs})
    if not all_files:
        return {}
    # header=false: count raw lines per file, subtract the header row —
    # a multi-path header=true read would merge-by-position and lose
    # per-file identity for heterogeneous groups.
    #
    # Group by the RAW file URI (one codegen expression, ~#files
    # groups) and map file -> table on the driver from the discovery
    # grouping the caller already holds: deriving the table name
    # row-side would run the naming regex chain once per LINE —
    # measured 4x the whole job's cost at the sf1 ingest scale (7.5M
    # lines, 12 files) for a mapping that's knowable per FILE.
    counts = (
        spark.read.text([str(f) for f in all_files])
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.count("*").alias("n_lines"))
        .collect()
    )

    per_file = uri_count_map((r.file, r.n_lines) for r in counts)
    out = {}
    for table, files in table_csv_files.items():
        # subtract one header line per file; quoted embedded newlines
        # make line counts an approximation (exactly like the
        # reference's wc -l fast path, csvcount.py:43-49) — the precise
        # per-file count is csvcount.count_sources
        n_lines = sum(lookup_file_count(per_file, f) for f in files)
        out[table] = max(n_lines - len(files), 0)
    return out


def db_row_counts(spark: SparkSession, tables: list[str]) -> dict[str, int]:
    """count(*) per import view (O5, reference main.py:250-306). A
    missing view counts 0 — the reference's check tolerates missing
    tables by reporting the diff.

    The counts are independent jobs, so they run from driver threads
    and overlap on the scheduler; the dict keeps ``tables`` order. A
    count that fails is logged and reported as 0, so its difference
    still shows in the report."""
    from concurrent.futures import ThreadPoolExecutor

    from .pipeline import DRIVER_POOL_WIDTH

    def count(t: str) -> int:
        try:
            return spark.table(import_view_name(t)).count()
        except Exception as exc:  # noqa: BLE001
            log.warning("db row count failed for %s, reporting 0: %s", t, exc)
            return 0

    with ThreadPoolExecutor(
        max_workers=DRIVER_POOL_WIDTH, thread_name_prefix="db-count"
    ) as pool:
        return dict(zip(tables, pool.map(count, tables)))


def reconciliation_report(
    spark: SparkSession,
    table_csv_files: dict[str, list[Path]],
    tolerance: int = 100,
    db=None,
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
        db_counts = db_row_counts(spark, list(table_csv_files))

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
