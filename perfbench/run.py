"""Benchmark of the loader and the query library.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload dump_many_small --seed 1 \
        --seconds 12 --trace 0

Workloads: ``dump_many_small``, ``dump_few_large``, ``query_mix`` (see
``BENCHMARK.json``). Inputs are generated from ``--seed`` and cached
under ``.perfbench_work/``. The run drives the program's public API
(``session.get_spark``, ``pipeline.run_pipeline``,
``plans.registry()[q].fn``) as a closed loop with one client on
``local[<cpus>]``, checks every output, prints a summary line per metric
and, as its last line, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
WORKLOADS = ("dump_many_small", "dump_few_large", "query_mix")
# What the operation metrics mean on each kind of workload.
ALIASES = {
    "dump": {"op_s": "load_s", "input_mb_per_s": "ingest_mb_per_s"},
    "query_mix": {"op_s": "query_mix_s", "input_mb_per_s": "scan_mb_per_s"},
}


def program_present() -> bool:
    return (ROOT / "postgresimporter_spark" / "__init__.py").is_file() and (
        ROOT / "tests" / "oracle_check.py"
    ).is_file()


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def prepare_env(run_dir: Path) -> None:
    """Point every temporary file of this process, its JVM and its
    Python workers into the run directory."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    tempfile.tempdir = None  # re-read TMPDIR


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not program_present():
        print(
            "perfbench: the program (postgresimporter_spark/, tests/) is not "
            f"in {ROOT}; run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2

    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    import gen
    import workloads

    WORK.mkdir(exist_ok=True)
    for stale in WORK.glob("run-*"):
        if not _pid_alive(int(stale.name.split("-")[1])):
            shutil.rmtree(stale, ignore_errors=True)
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        prepare_env(run_dir)
        t0 = time.perf_counter()
        corpus, manifest = gen.cached_corpus(args.workload, args.seed, WORK / "corpus")
        gen_s = time.perf_counter() - t0
        result = workloads.run(
            args.workload, corpus, manifest, args.seed, args.seconds,
            bool(args.trace), run_dir, ROOT,
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in result.pop("problems")[:50]:
        print(f"FAILED {p}")
    spans = result.pop("spans")
    if spans:
        traces = WORK / "traces"
        traces.mkdir(exist_ok=True)
        out = traces / f"{args.workload}-seed{args.seed}.json"
        out.write_text(json.dumps(spans))
        print(f"# {len(spans)} spans written to {out.relative_to(ROOT)}")
    samples = result.pop("samples")
    print(f"# {args.workload} seed={args.seed} gen_s={gen_s:.3f} samples={samples}")
    alias = ALIASES["query_mix" if args.workload == "query_mix" else "dump"]
    for name, m in result["metrics"].items():
        also = f" ({alias[name]})" if name in alias else ""
        print(f"{name} = {m['value']:.6g} {m['unit']}{also}")
    frac = result["failed"] / result["attempted"]
    print(f"failed_ops_frac = {frac:.6g} ratio ({result['failed']}/{result['attempted']})")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
