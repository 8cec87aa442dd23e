"""Self-tests of the benchmark harness.

Run from the root of a checkout: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
import threading
import zipfile
from pathlib import Path

import pytest

import gen
import workloads
from tracer import Span, Tracer, self_times, union_length

ROOT = Path(__file__).resolve().parent.parent.parent
NAME_RX = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RX = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture
def tiny(monkeypatch):
    """Shrink every corpus so generation takes milliseconds."""
    monkeypatch.setattr(gen, "MANY_SMALL", {
        "events": {"files": 3, "rows": 300},
        "orders": {"files": 3, "rows": 200},
        "customer": {"files": 2, "rows": 50},
    })
    monkeypatch.setattr(gen, "MANY_SMALL_ARCHIVES", 2)
    monkeypatch.setattr(gen, "FEW_LARGE", {"files": 2, "rows_per_file": 500})
    monkeypatch.setattr(gen, "QUERY_MIX", {
        "customer": 100, "supplier": 20, "orders": 500, "lineitem": 2000,
        "events": 500, "users": 20, "documents": 50, "embeddings": 40,
    })


# -- generator determinism -------------------------------------------------


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_corpus(tiny, tmp_path, workload):
    a = gen.generate(workload, 11, tmp_path / "a")
    b = gen.generate(workload, 11, tmp_path / "b")
    assert a == b
    files_a = sorted(p.relative_to(tmp_path / "a") for p in (tmp_path / "a").rglob("*") if p.is_file())
    files_b = sorted(p.relative_to(tmp_path / "b") for p in (tmp_path / "b").rglob("*") if p.is_file())
    assert files_a == files_b
    for rel in files_a:
        assert (tmp_path / "a" / rel).read_bytes() == (tmp_path / "b" / rel).read_bytes()


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_other_seed_other_corpus(tiny, tmp_path, workload):
    a = gen.generate(workload, 11, tmp_path / "a")
    b = gen.generate(workload, 12, tmp_path / "b")
    assert a["digest"] != b["digest"]
    assert {k: v for k, v in a.items() if k not in ("seed", "digest")} != {
        k: v for k, v in b.items() if k not in ("seed", "digest")
    }


def test_cache_reuses_and_evicts(tiny, tmp_path):
    root, m = gen.cached_corpus("dump_many_small", 1, tmp_path)
    again, m2 = gen.cached_corpus("dump_many_small", 1, tmp_path)
    assert again == root and m2 == m
    for seed in (2, 3, 4):
        gen.cached_corpus("dump_many_small", seed, tmp_path, keep=2)
    assert len(list(tmp_path.glob("dump_many_small-*"))) == 2


def test_manifest_counts_match_files(tiny, tmp_path):
    m = gen.generate("dump_many_small", 5, tmp_path / "c")
    rows = {t: 0 for t in m["tables"]}
    files = {t: 0 for t in m["tables"]}
    nbytes = 0
    for z in sorted((tmp_path / "c" / "dump").glob("*.zip")):
        with zipfile.ZipFile(z) as zf:
            for name in zf.namelist():
                data = zf.read(name)
                nbytes += len(data)
                t = name.split("_")[0]
                files[t] += 1
                rows[t] += data.count(b"\n") - 1
    assert files == {t: v["files"] for t, v in m["tables"].items()}
    assert rows == {t: v["rows"] for t, v in m["tables"].items()}
    assert nbytes == m["csv_bytes"]


def test_oracle_timestamp_rendering_round_trips():
    import numpy as np

    rng = np.random.default_rng(0)
    micros = gen._EPOCH_2024_US + rng.integers(0, 400 * gen._DAY_US, 2000)
    text, src = gen.render_oracle_timestamps(micros, rng)
    text = text.to_pylist()
    # every row is one of the five formats, and fraction-less formats
    # carry whole-second source values
    fmts = [
        r"^\d\d-[A-Z]{3}-\d\d \d\d\.\d\d\.\d\d\.\d{9} (AM|PM) [+-]\d\d:\d\d$",
        r"^\d\d-[A-Z]{3}-\d\d \d\d\.\d\d\.\d\d (AM|PM) [+-]\d\d:\d\d$",
        r"^\d\d-[A-Z]{3}-\d\d \d\d\.\d\d\.\d\d\.\d{9} (AM|PM) [A-Z]{3}$",
        r"^\d\d-[A-Z]{3}-\d\d \d\d\.\d\d\.\d\d (AM|PM) [A-Z]{3}$",
        r"^\d{14}[+-]\d{4}$",
    ]
    seen = set()
    for t, s in zip(text, src.tolist()):
        k = next(i for i, rx in enumerate(fmts) if re.match(rx, t))
        seen.add(k)
        if k in (1, 3, 4):
            assert s % 1_000_000 == 0
    assert seen == set(range(5))


# -- span arithmetic ---------------------------------------------------------


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_with_overlapping_children_on_two_threads():
    # parent 0..10; child A on the parent's thread 1..5; child B on a
    # worker thread 3..8 overlaps A; grandchild of B 4..6 does not count
    # against the parent
    spans = [
        Span("op", 0.0, 10.0, None, "main", 0),
        Span("a", 1.0, 5.0, 0, "main", 1),
        Span("b", 3.0, 8.0, 0, "worker", 2),
        Span("c", 4.0, 6.0, 2, "worker", 3),
        # a child running past its parent's end is clipped to the parent
        Span("d", 9.0, 12.0, 0, "worker", 4),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (7 + 1))  # covered: 1..8 and 9..10
    assert st[1] == pytest.approx(4)
    assert st[2] == pytest.approx(5 - 2)
    assert st[3] == pytest.approx(2)
    assert st[4] == pytest.approx(3)


def test_tracer_parents_worker_spans_to_the_operation():
    clock = iter(range(100)).__next__
    tr = Tracer(clock=lambda: float(clock()))
    done = threading.Event()

    def worker():
        with tr.span("worker.job"):
            pass
        done.set()

    with tr.operation("op") as op:
        with tr.span("main.step"):
            t = threading.Thread(target=worker, name="w")
            t.start()
            t.join(timeout=10)
    assert not t.is_alive() and done.is_set()
    by = {s.name: s for s in tr.spans}
    assert by["main.step"].parent == op.sid
    # the worker thread had no open span: it hangs under the operation
    assert by["worker.job"].parent == op.sid
    assert by["worker.job"].thread == "w"


def test_wrap_records_and_restores():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    tr = Tracer()
    tr.wrap(mod, "f", "mod.f", lambda s, a, k, r: s.attrs.update(r=r))
    assert mod.f(1) == 2
    tr.unwrap_all()
    assert mod.f is orig
    (s,) = tr.by_name("mod.f")
    assert s.attrs["r"] == 2 and s.end >= s.start


# -- metric names --------------------------------------------------------------


def test_metric_names_and_units():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == workloads.END_TO_END
    assert layer == workloads.per_layer_units()
    names = [*e2e, *layer, *(w["name"] for w in spec["workloads"])]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME_RX.match(n), n
    for u in [*e2e.values(), *layer.values()]:
        assert UNIT_RX.match(u), u
    assert set(w["name"] for w in spec["workloads"]) <= set(gen.GENERATORS)


# -- the run refuses an incomplete checkout --------------------------------


def test_refuses_without_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert "correct" not in out.stdout


# -- a broken corpus is counted as failed operations ------------------------


def _break_corpus(corpus: Path) -> None:
    """Corrupt the first archive and give one member of the second a
    drifted header."""
    archives = sorted((corpus / "dump").glob("*.zip"))
    data = archives[0].read_bytes()
    archives[0].write_bytes(data[: len(data) // 3] + b"\x00" * 64)
    with zipfile.ZipFile(archives[1]) as zf:
        members = {n: zf.read(n) for n in zf.namelist()}
    name = sorted(members)[0]
    head, rest = members[name].split(b"\n", 1)
    members[name] = head.replace(b",", b",x_", 1) + b"\n" + rest
    with zipfile.ZipFile(archives[1], "w") as zf:
        for n, body in members.items():
            zf.writestr(n, body)


def test_broken_corpus_counts_failures(tiny, tmp_path):
    from postgresimporter_spark.session import get_spark

    corpus = tmp_path / "corpus"
    manifest = gen.generate("dump_many_small", 3, corpus)
    _break_corpus(corpus)
    run_dir = tmp_path / "run"
    run_dir.mkdir()
    spark = get_spark(app_name="perfbench-tests",
                      extra_conf=workloads.spark_conf(run_dir))
    w = workloads.DumpWorkload(spark, corpus, manifest, run_dir)
    w.reset()
    result = w.op()
    attempted, problems = w.check(result)
    assert attempted > 0
    assert problems, "a corrupt archive and a drifted header went unnoticed"
    text = "\n".join(problems)
    # the corrupt archive loses rows; the drifted member breaks its
    # prefix group's combine and so its typed table
    assert "csv_rows" in text or "csv_files" in text
    assert "typed_" in text
    for t in manifest["typed"]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
