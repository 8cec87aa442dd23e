"""Output checks. Each returns a list of problems; an empty list passes.

Checks run outside the timed region. A failed check never aborts the
run: the caller counts it in ``failed`` and the run reports
``correct: false``.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

from gen import WEIGHT_MOD


def check_load(result, manifest: dict) -> list[str]:
    """Reconciliation rows and sink writes against the manifest."""
    problems = []
    if not result.check_passed:
        problems.append("reconciliation gate failed")
    if result.report is None:
        return problems + ["no reconciliation report"]
    rows = {r["table"]: r for r in (x.asDict() for x in result.report.collect())}
    for table, want in manifest["tables"].items():
        got = rows.get(table)
        if got is None:
            problems.append(f"{table}: missing from reconciliation report")
            continue
        for col, expect in (
            ("csv_files", want["files"]),
            ("csv_rows", want["rows"]),
            ("db_rows", want["rows"]),
            ("difference", 0),
        ):
            if got[col] != expect:
                problems.append(f"{table}: {col}={got[col]} expected {expect}")
    extra = set(rows) - set(manifest["tables"])
    if extra:
        problems.append(f"unexpected tables in report: {sorted(extra)}")
    return problems


def check_sink(result, manifest: dict) -> list[str]:
    """Every per-file and combined view landed in the sink this run."""
    expected = sum(t["files"] for t in manifest["tables"].values()) + len(
        manifest["tables"]
    )
    views = set(result.file_views) | set(result.combined_views)
    missing = sorted(views - result.sink_written)
    problems = [f"sink write missing: {v}" for v in missing]
    if len(views) != expected:
        problems.append(f"{len(views)} views imported, expected {expected}")
    return problems


def check_typed(spark, manifest: dict) -> dict[str, list[str]]:
    """Typed tables from the post-load hook: row counts, and parsed
    timestamps/dates equal to the generator's source values (checked by
    a pair-sensitive weighted checksum). A failing hook statement is only
    logged by the program, so this is where it shows."""
    out: dict[str, list[str]] = {}
    for table, want in manifest["typed"].items():
        problems: list[str] = []
        try:
            exprs = ["count(*) AS n"]
            key = want["key"]
            w = f"(CAST({key} AS DECIMAL(38,0)) % {WEIGHT_MOD} + 1)"
            if "ts" in want:
                micros = f"CAST(unix_micros({want['ts']}) AS DECIMAL(38,0))"
                exprs += [
                    f"count({want['ts']}) AS ts_n",
                    f"CAST(sum({micros} * {w}) AS STRING) AS ts_sum",
                    f"min(unix_micros({want['ts']})) AS ts_min",
                    f"max(unix_micros({want['ts']})) AS ts_max",
                ]
            if "date" in want:
                days = f"CAST(unix_date({want['date']}) AS DECIMAL(38,0))"
                exprs += [
                    f"count({want['date']}) AS d_n",
                    f"CAST(sum({days} * {w}) AS STRING) AS d_sum",
                ]
            if "text" in want:
                vals = ", ".join(f"'{v}'" for v in want["text_values"])
                exprs.append(
                    f"count_if({want['text']} IN ({vals})) AS text_ok"
                )
            if "name" in want:
                exprs.append(
                    f"count_if({want['name']} = concat('Customer#', "
                    f"lpad(CAST({key} AS STRING), 9, '0'))) AS name_ok"
                )
            r = spark.sql(f"SELECT {', '.join(exprs)} FROM {table}").first()
        except Exception as e:  # noqa: BLE001 - a missing table is a failure
            out[table] = [f"{table}: {type(e).__name__}: {str(e)[:200]}"]
            continue
        n = want["rows"]
        if r["n"] != n:
            problems.append(f"{table}: {r['n']} rows, expected {n}")
        if "ts" in want:
            if r["ts_n"] != n:
                problems.append(f"{table}: {n - r['ts_n']} timestamps failed to parse")
            if int(r["ts_sum"] or 0) != want["ts_checksum"]:
                problems.append(f"{table}: parsed timestamps differ from source")
            if (r["ts_min"], r["ts_max"]) != (want["ts_min"], want["ts_max"]):
                problems.append(f"{table}: timestamp range differs from source")
        if "date" in want:
            if r["d_n"] != n or int(r["d_sum"] or 0) != want["date_checksum"]:
                problems.append(f"{table}: parsed dates differ from source")
        if "text" in want and r["text_ok"] != n:
            problems.append(f"{table}: {n - r['text_ok']} values not stripped")
        if "name" in want and r["name_ok"] != n:
            problems.append(f"{table}: {n - r['name_ok']} names not stripped")
        out[table] = problems
    return out


def load_oracle_compare(root: Path):
    """The canonical result comparison of the repository's differential
    harness (``tests/oracle_check.py``): ``compare(name, spark_df,
    oracle_df) -> list of issues``."""
    path = root / "tests" / "oracle_check.py"
    spec = importlib.util.spec_from_file_location("perfbench_oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare
