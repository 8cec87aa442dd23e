"""Closed-loop workload drivers: one client, one operation at a time.

An operation is one ``run_pipeline`` call (``dump_*`` workloads) or one
pass over the fixed query mix in a seeded order (``query_mix``). Resets
and output checks run between operations, outside the timed region.
The first operations of a run warm the JVM up and are not timed.
"""

from __future__ import annotations

import contextlib
import logging
import os
import shutil
import statistics
import time
from pathlib import Path

import numpy as np

import checks
from tracer import Tracer, self_times

# The query mix: registry name -> the tables it reads.
MIX = {
    "q01_pricing_summary": ["lineitem"],
    "q05_local_supplier_volume": [
        "region", "nation", "customer", "supplier", "orders", "lineitem",
    ],
    "q17_sessionize": ["events"],
    "q26_minhash_lsh": ["documents"],
    "q82_asof_join": ["events"],
}

MIN_OPS = 3
# Hard cap on timed operations, so a run always ends well inside its
# time limit even when the operation is unexpectedly fast.
MAX_OPS = 50
_MB = 1e6


def spark_conf(run_dir: Path) -> dict[str, str]:
    """Session settings that keep every file the engine writes inside
    the run directory."""
    return {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }


def setup_session(run_dir: Path, tracer: Tracer | None = None):
    """Process set-up a CLI invocation pays: import the program, start
    the session, register the function library, run one trivial action.
    Returns (spark, seconds)."""
    t0 = time.perf_counter()
    from postgresimporter_spark import functions, session

    if tracer is not None:
        tracer.wrap(session, "get_spark", "session.get_spark")
        tracer.wrap(functions, "register_all", "functions.register_all")
    try:
        spark = session.get_spark(
            app_name="perfbench", extra_conf=spark_conf(run_dir)
        )
        functions.register_all(spark)
        spark.range(1).count()
    finally:
        if tracer is not None:
            tracer.unwrap_all()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


# --------------------------------------------------------------------------
# Spark counters (read from the JVM, outside the program)
# --------------------------------------------------------------------------


class SparkCounters:
    """Jobs, tasks and shuffle bytes from the scheduler and status store.

    Jobs come from the DAG scheduler's job-id sequence: the retained-jobs
    list of the status tracker is capped (1,000 by default) and a load of
    many files overflows it. Tasks and shuffle bytes come from the live
    executor summaries, which are cumulative and not capped."""

    def __init__(self, spark):
        self.sc = spark._jsc.sc()

    def read(self) -> dict[str, float]:
        jobs = self.sc.dagScheduler().numTotalJobs()
        execs = self.sc.statusStore().executorList(True)
        tasks = shuffle = 0
        for i in range(execs.size()):
            e = execs.apply(i)
            tasks += e.totalTasks()
            shuffle += e.totalShuffleWrite()
        return {"jobs": jobs, "tasks": tasks, "shuffle_bytes": shuffle}

    @staticmethod
    def delta(a: dict, b: dict) -> dict:
        return {k: b[k] - a[k] for k in a}


# --------------------------------------------------------------------------
# Memory
# --------------------------------------------------------------------------


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this driver process plus its JVM."""
    from pyspark import SparkContext

    return (_hwm_kb(os.getpid()) + _hwm_kb(SparkContext._gateway.proc.pid)) / 1024


def _tree_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# --------------------------------------------------------------------------
# Dump workloads
# --------------------------------------------------------------------------


class DumpWorkload:
    """Loads the generated dump with ``run_pipeline``: unzip, discover,
    import, combine, parquet sink, typing post-load hook, reconcile."""

    # the first load pays code generation and most of the JIT warm-up;
    # it is not timed
    warmup = 1

    def __init__(self, spark, corpus: Path, manifest: dict, run_dir: Path):
        self.spark = spark
        self.corpus = corpus
        self.manifest = manifest
        self.run_dir = run_dir
        self.n = 0
        self.src: Path | None = None
        self.sink: Path | None = None

    def reset(self) -> None:
        """Fresh zip tree, clean sink, typed tables dropped."""
        for t in self.manifest["typed"]:
            self.spark.sql(f"DROP TABLE IF EXISTS {t}")
        for p in (self.src, self.sink):
            if p is not None:
                shutil.rmtree(p, ignore_errors=True)
        self.n += 1
        self.src = self.run_dir / f"src-{self.n}"
        self.sink = self.run_dir / f"sink-{self.n}"
        shutil.copytree(self.corpus / "dump", self.src)

    def config(self):
        from postgresimporter_spark.config import PipelineConfig

        return PipelineConfig(
            sources=[self.src],
            post_load=[self.corpus / "hooks"],
            combine_tables=True,
            sink_dir=self.sink,
            log_level="WARNING",
        )

    def op(self):
        from postgresimporter_spark import pipeline

        return pipeline.run_pipeline(self.spark, self.config())

    def check(self, result) -> tuple[int, list[str]]:
        """(operations attempted, problems) for one load: every view's
        sink write, the reconciliation rows, and each typed table."""
        problems = checks.check_load(result, self.manifest)
        problems += checks.check_sink(result, self.manifest)
        typed = checks.check_typed(self.spark, self.manifest)
        for p in typed.values():
            problems += p
        views = len(result.file_views) + len(result.combined_views)
        return views + 1 + len(typed), problems

    def input_bytes(self) -> int:
        return self.manifest["csv_bytes"]

    def stored_bytes(self) -> int:
        wh = self.run_dir / "warehouse"
        typed = sum(_tree_bytes(wh / t) for t in self.manifest["typed"] if (wh / t).exists())
        return _tree_bytes(self.sink) + typed

    def instrument(self, tracer: Tracer) -> None:
        from postgresimporter_spark import pipeline, reconcile
        from postgresimporter_spark.sources import zips

        def n_archives(span, args, kwargs, result):
            span.attrs["n"] = len(args[0])

        def n_files(span, args, kwargs, result):
            if result is not None:
                span.attrs["n"] = len(result.dump_files)

        def n_views(span, args, kwargs, result):
            res = args[1]
            span.attrs["attempted"] = len(res.file_views) + len(res.combined_views)
            span.attrs["written"] = len(res.sink_written)

        tracer.wrap(zips, "extract_zips", "zips.extract_zips", n_archives)
        tracer.wrap(pipeline, "discover_zips", "discovery.discover_zips")
        tracer.wrap(pipeline, "discover_csvs", "discovery.discover_csvs", n_files)
        tracer.wrap(pipeline, "read_csv_all_text", "csv.read_csv_all_text")
        tracer.wrap(pipeline, "read_csv_group", "csv.read_csv_group")
        tracer.wrap(pipeline, "run_sql_hooks", "pipeline.run_sql_hooks")
        tracer.wrap(pipeline.Loader, "write_sink", "pipeline.write_sink", n_views)
        tracer.wrap(reconcile, "csv_row_counts", "reconcile.csv_row_counts")
        tracer.wrap(reconcile, "db_row_counts", "reconcile.db_row_counts")
        tracer.wrap(pipeline, "reconciliation_report", "reconcile.reconciliation_report")

    @staticmethod
    def layers(tracer: Tracer, op_span, spark_delta: dict) -> dict[str, float]:
        """Per-layer figures of one traced load."""
        spans = [s for s in tracer.spans if s.end is not None]
        self_t = self_times(spans)
        mine = _descendants(spans, op_span.sid)

        def of(name):
            return [s for s in mine if s.name == name]

        def tot(name):
            return sum(s.duration for s in of(name))

        reads = of("csv.read_csv_all_text")
        hooks = sorted(of("pipeline.run_sql_hooks"), key=lambda s: s.start)
        sink = of("pipeline.write_sink")
        attempted = sum(s.attrs.get("attempted", 0) for s in sink)
        written = sum(s.attrs.get("written", 0) for s in sink)
        counts = of("reconcile.csv_row_counts")
        wait = 0.0
        if counts and len(hooks) >= 2:
            # the count runs on its own thread; the load joins it right
            # after the post-load hooks, so whatever is left of it then
            # is on the blocking path
            wait = max(0.0, counts[0].end - hooks[-1].end)
        files = sum(s.attrs.get("n", 0) for s in of("discovery.discover_csvs"))
        return {
            "zips.extract_s": tot("zips.extract_zips"),
            "zips.archives": sum(s.attrs.get("n", 0) for s in of("zips.extract_zips")),
            "discovery.scan_s": tot("discovery.discover_zips") + tot("discovery.discover_csvs"),
            "discovery.csv_files": files,
            "csv.read_calls": len(reads),
            "csv.read_s": sum(s.duration for s in reads),
            "csv.read_ms_per_file": (
                1000 * sum(s.duration for s in reads) / len(reads) if reads else 0.0
            ),
            "csv.group_read_s": tot("csv.read_csv_group"),
            "pipeline.pre_hooks_s": hooks[0].duration if hooks else 0.0,
            "pipeline.post_hooks_s": hooks[-1].duration if len(hooks) >= 2 else 0.0,
            "pipeline.write_sink_s": tot("pipeline.write_sink"),
            "pipeline.views_attempted": attempted,
            "pipeline.views_written": written,
            "pipeline.sink_write_ratio": written / attempted if attempted else 0.0,
            "pipeline.self_s": self_t[op_span.sid],
            "reconcile.csv_count_s": tot("reconcile.csv_row_counts"),
            "reconcile.csv_count_wait_s": wait,
            "reconcile.db_count_s": tot("reconcile.db_row_counts"),
            "reconcile.report_s": sum(
                self_t[s.sid] for s in of("reconcile.reconciliation_report")
            ),
            "spark.jobs_per_file": spark_delta["jobs"] / files if files else 0.0,
        }


def _descendants(spans, root_sid: int):
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root_sid]
    while todo:
        for s in kids.get(todo.pop(), []):
            out.append(s)
            todo.append(s.sid)
    return out


# --------------------------------------------------------------------------
# Query mix
# --------------------------------------------------------------------------


def oracle_results(corpus: Path) -> dict:
    """DuckDB results of each mix query's oracle SQL on the corpus,
    computed once per corpus and cached beside it."""
    import pandas as pd

    cache = corpus / "oracle"
    if all((cache / f"{q}.pkl").exists() for q in MIX):
        return {q: pd.read_pickle(cache / f"{q}.pkl") for q in MIX}
    import duckdb

    from postgresimporter_spark.plans import registry

    reg = registry()
    tmp = corpus / "oracle.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in {t for ts in MIX.values() for t in ts}:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{corpus / 'sf' / (t + '.parquet')}'"
            )
        out = {}
        for q in MIX:
            out[q] = con.sql(reg[q].oracle).df()
            out[q].to_pickle(tmp / f"{q}.pkl")
    finally:
        con.close()
    shutil.rmtree(cache, ignore_errors=True)
    tmp.rename(cache)
    return out


class QueryMix:
    """One pass = every mix query once, in a seeded order: build the
    DataFrame (``fn(spark, sf)``, including any eager jobs the plan runs
    while it is built), then run the action (``toPandas``)."""

    # JIT and code generation settle over several passes; the first
    # two are not timed
    warmup = 2

    def __init__(self, spark, corpus: Path, manifest: dict, seed: int, root: Path):
        from postgresimporter_spark.plans import registry

        self.spark = spark
        self.sf = str(corpus / "sf")
        self.manifest = manifest
        self.reg = registry()
        self.rng = np.random.default_rng([seed, 7])
        self.oracle = oracle_results(corpus)
        self.compare = checks.load_oracle_compare(root)
        self.tracer: Tracer | None = None

    def reset(self) -> None:
        self.tracer = None

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def op(self):
        order = [list(MIX)[i] for i in self.rng.permutation(len(MIX))]
        results = {}
        for q in order:
            short = q.split("_")[0]
            try:
                with self._span(f"plans.build.{short}"):
                    df = self.reg[q].fn(self.spark, self.sf)
                with self._span(f"plans.exec.{short}"):
                    results[q] = df.toPandas()
            except Exception as e:  # noqa: BLE001 - counted as a failed query
                results[q] = e
        return results

    def check(self, results) -> tuple[int, list[str]]:
        problems = []
        for q, got in results.items():
            if isinstance(got, Exception):
                problems.append(f"{q}: {type(got).__name__}: {str(got)[:200]}")
                continue
            issues = self.compare(q, got, self.oracle[q])
            problems += [f"{q}: {i}" for i in issues[:3]]
        return len(results), problems

    def input_bytes(self) -> int:
        t = self.manifest["tables"]
        return sum(t[name]["bytes"] for names in MIX.values() for name in names)

    def stored_bytes(self) -> int:
        return 0

    def instrument(self, tracer: Tracer) -> None:
        self.tracer = tracer

    @staticmethod
    def layers(tracer: Tracer, op_span, spark_delta: dict) -> dict[str, float]:
        out = {}
        for s in _descendants(tracer.spans, op_span.sid):
            _, kind, short = s.name.split(".")
            out[f"plans.{kind}_s.{short}"] = s.duration
        return out


# --------------------------------------------------------------------------
# The run
# --------------------------------------------------------------------------


def per_layer_names() -> list[str]:
    names = [
        "session.start_s", "functions.register_s",
        "zips.extract_s", "zips.archives",
        "discovery.scan_s", "discovery.csv_files",
        "csv.read_calls", "csv.read_s", "csv.read_ms_per_file", "csv.group_read_s",
        "pipeline.pre_hooks_s", "pipeline.post_hooks_s", "pipeline.write_sink_s",
        "pipeline.views_attempted", "pipeline.views_written",
        "pipeline.sink_write_ratio", "pipeline.self_s",
        "pipeline.sink_bytes_per_input_byte",
        "reconcile.csv_count_s", "reconcile.csv_count_wait_s",
        "reconcile.db_count_s", "reconcile.report_s",
    ]
    for q in MIX:
        names.append(f"plans.build_s.{q.split('_')[0]}")
    for q in MIX:
        names.append(f"plans.exec_s.{q.split('_')[0]}")
    names += [
        "spark.jobs", "spark.tasks", "spark.jobs_per_file", "spark.shuffle_write_mb",
        "memory.peak_rss_mb",
        "trace.op_s", "trace.untraced_op_s", "trace.overhead_s",
    ]
    return names


END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "input_mb_per_s": "MB/s",
}


def per_layer_units() -> dict[str, str]:
    def unit(name: str) -> str:
        if name.endswith("_ms_per_file"):
            return "ms"
        if name.endswith("_s") or ".build_s." in name or ".exec_s." in name:
            return "s"
        if name.endswith("_mb"):
            return "MB"
        if name.endswith(("_ratio", "_per_input_byte", "_per_file")):
            return "ratio"
        return "count"

    return {n: unit(n) for n in per_layer_names()}


def run(workload: str, corpus: Path, manifest: dict, seed: int, seconds: int,
        trace: bool, run_dir: Path, root: Path) -> dict:
    """Run one workload and return the result object of the contract,
    plus the raw samples under ``samples`` and the spans of a traced
    run under ``spans``."""
    logging.getLogger("py4j").setLevel(logging.ERROR)
    tracer = Tracer()
    spark, setup_s = setup_session(run_dir, tracer if trace else None)
    try:
        t_prep = time.perf_counter()
        if workload == "query_mix":
            w = QueryMix(spark, corpus, manifest, seed, root)
        else:
            w = DumpWorkload(spark, corpus, manifest, run_dir)
        t_prep = time.perf_counter() - t_prep
        counters = SparkCounters(spark)
        tally = {"attempted": 0, "failed": 0, "problems": []}

        def one(traced: bool):
            w.reset()
            c0 = counters.read()
            if traced:
                w.instrument(tracer)
            try:
                with tracer.operation("op") if traced else contextlib.nullcontext() as span:
                    t0 = time.perf_counter()
                    result = w.op()
                    dt = time.perf_counter() - t0
            finally:
                tracer.unwrap_all()
            delta = SparkCounters.delta(c0, counters.read())
            n, problems = w.check(result)
            tally["attempted"] += n
            tally["failed"] += len(problems)
            tally["problems"] += problems
            return dt, span, delta, w.stored_bytes()

        warm = [one(False) for _ in range(w.warmup)]
        # Untraced operations fill the window; a traced run spends its
        # first half untraced (the baseline for the tracing overhead)
        # and its second half traced.
        start = time.perf_counter()
        plain, traced = [], []
        while len(plain) + len(traced) < MAX_OPS:
            elapsed = time.perf_counter() - start
            if not trace:
                if elapsed >= seconds and len(plain) >= MIN_OPS:
                    break
                plain.append(one(False))
            elif not plain or (elapsed < seconds / 2 and not traced):
                plain.append(one(False))
            elif elapsed < seconds or not traced:
                traced.append(one(True))
            else:
                break
        op_s = _median([p[0] for p in plain])
        if not trace:
            metrics = {
                "setup_s": setup_s,
                "op_s": op_s,
                "input_mb_per_s": w.input_bytes() / _MB / op_s,
            }
            units = END_TO_END
        else:
            rows = []
            for _, span, delta, stored in traced:
                row = {n: 0.0 for n in per_layer_names()}
                row.update(w.layers(tracer, span, delta))
                row["spark.jobs"] = delta["jobs"]
                row["spark.tasks"] = delta["tasks"]
                row["spark.shuffle_write_mb"] = delta["shuffle_bytes"] / _MB
                row["pipeline.sink_bytes_per_input_byte"] = stored / w.input_bytes()
                rows.append(row)
            metrics = {n: _median([r[n] for r in rows]) for n in per_layer_names()}
            metrics["memory.peak_rss_mb"] = peak_rss_mb()
            metrics["session.start_s"] = tracer.total("session.get_spark")
            metrics["functions.register_s"] = tracer.total("functions.register_all")
            metrics["trace.op_s"] = _median([t[0] for t in traced])
            metrics["trace.untraced_op_s"] = op_s
            metrics["trace.overhead_s"] = metrics["trace.op_s"] - op_s
            units = per_layer_units()
        return {
            "correct": tally["failed"] == 0,
            "attempted": tally["attempted"],
            "failed": tally["failed"],
            "metrics": {
                k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
            },
            "problems": tally["problems"],
            "samples": {
                "setup_s": round(setup_s, 3),
                "prep_s": round(t_prep, 3),
                "warmup_s": [round(x[0], 3) for x in warm],
                "op_s": [round(p[0], 3) for p in plain],
                "traced_op_s": [round(t[0], 3) for t in traced],
            },
            "spans": tracer.to_records() if trace else [],
        }
    finally:
        stop_session(spark)
