"""Seeded corpus generators for the benchmark workloads.

Every generator is a pure function of ``(workload, seed)``: it writes the
program's inputs into a fresh directory and a ``manifest.json`` holding
what a correct load or query run must produce (row counts, CSV bytes,
checksums of the source timestamps). Corpora are cached under the work
directory keyed by workload and seed, so a repeated seed costs nothing
and generation never runs inside a timed region.

Layouts:

- ``dump_many_small``: three prefix groups (events, orders, customer)
  pmod-split into many small CSVs and packed into zip archives.
  Timestamps are rendered in the reference's five Oracle dump formats,
  one format per row chosen by the seed.
- ``dump_few_large``: a handful of large key-shifted ``lineitem`` CSVs
  in one prefix group, no archives.
- ``query_mix``: the TPC-H-like star schema plus the events, documents
  and embeddings tables as one parquet file per table.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import zipfile
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GEN_VERSION = 4

# Scale of each workload. Sized so that one operation (a load, or one
# pass over the query mix) takes a few seconds on a 4-core machine.
MANY_SMALL = {
    "events": {"files": 6, "rows": 12_000},
    "orders": {"files": 6, "rows": 9_000},
    "customer": {"files": 4, "rows": 4_000},
}
MANY_SMALL_ARCHIVES = 4
FEW_LARGE = {"files": 4, "rows_per_file": 110_000}
QUERY_MIX = {
    "customer": 3_750,
    "supplier": 500,
    "orders": 37_500,
    "lineitem": 150_000,
    "events": 25_000,
    "users": 400,
    "documents": 1_000,
    "embeddings": 1_000,
}

_MONTHS = np.array(
    ["JAN", "FEB", "MAR", "APR", "MAY", "JUN",
     "JUL", "AUG", "SEP", "OCT", "NOV", "DEC"]
)
# Offsets for the offset-carrying formats, in minutes east of UTC.
_OFFSETS_MIN = np.array([-300, 0, 60, 330])
_ZONES = np.array(["GMT", "UTC"])
_EVENT_TYPES = np.array(["click", "purchase", "view", "signup", "error"])
_SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
)
_PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
_VOCAB = np.array(
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream "
    "merge data vector customer join index shard cache page log".split()
)

_US = 1_000_000
_DAY_US = 86_400 * _US
# 2024-01-01T00:00:00Z in epoch microseconds.
_EPOCH_2024_US = 1_704_067_200 * _US
WEIGHT_MOD = 997


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream): adding a table never
    shifts another table's values."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "big")
    return np.random.default_rng([seed, tag])


def weighted_checksum(keys: np.ndarray, micros: np.ndarray) -> int:
    """Pair-sensitive checksum of (key, timestamp) rows, exact in Python
    integers: sum(micros * (key % WEIGHT_MOD + 1)). The same expression
    runs in Spark SQL over the typed tables (see ``checks.py``)."""
    w = (keys.astype(np.int64) % WEIGHT_MOD + 1).astype(object)
    return int(np.sum(micros.astype(object) * w))


# --------------------------------------------------------------------------
# Oracle dump timestamp rendering
# --------------------------------------------------------------------------


def _civil(micros: np.ndarray):
    """Epoch microseconds -> (year, month, day, hour, minute, second,
    microsecond) integer arrays (proleptic Gregorian, UTC)."""
    dt = micros.astype("datetime64[us]")
    days = dt.astype("datetime64[D]")
    months = days.astype("datetime64[M]")
    years = months.astype("datetime64[Y]")
    year = years.astype(np.int64) + 1970
    month = (months - years).astype(np.int64) + 1
    day = (days - months).astype(np.int64) + 1
    tod = (dt - days).astype(np.int64)
    hour = tod // (3600 * _US)
    minute = tod // (60 * _US) % 60
    second = tod // _US % 60
    usec = tod % _US
    return year, month, day, hour, minute, second, usec


def _z(a: np.ndarray, width: int) -> pa.Array:
    """Zero-padded decimal text of a non-negative integer array."""
    return pc.utf8_lpad(
        pc.cast(pa.array(a, type=pa.int64()), pa.string()), width=width, padding="0"
    )


def _cat(*parts) -> pa.Array:
    """Element-wise concatenation of string arrays and literals."""
    return pc.binary_join_element_wise(*parts, "")


def render_oracle_timestamps(
    micros: np.ndarray, rng: np.random.Generator
) -> tuple[pa.Array, np.ndarray]:
    """Render instants in the five Oracle dump formats accepted by the
    function library's ``parse_timestamp``, one format per row.

    Formats without a fraction drop the sub-second part, so the returned
    source instants are the values a correct parser must reproduce.
    Returns (rendered text, source instants in epoch microseconds).
    """
    n = len(micros)
    fmt = rng.integers(1, 6, n)
    whole = np.isin(fmt, (2, 4, 5))
    src = np.where(whole, micros - micros % _US, micros)
    offset_min = np.where(
        np.isin(fmt, (1, 2, 5)), rng.choice(_OFFSETS_MIN, n), 0
    )
    zone = pa.array(rng.choice(_ZONES, n))
    wall = src + offset_min * 60 * _US
    year, month, day, hour, minute, second, usec = _civil(wall)
    mi, ss = _z(minute, 2), _z(second, 2)
    clock = _cat(
        _z(day, 2), "-", pa.array(_MONTHS[month - 1]), "-", _z(year % 100, 2),
        " ", _z(np.where(hour % 12 == 0, 12, hour % 12), 2), ".", mi, ".", ss,
    )
    frac = _cat(".", _z(usec * 1000, 9))
    ampm = pa.array(np.where(hour < 12, " AM ", " PM "))
    sign = pa.array(np.where(offset_min < 0, "-", "+"))
    oh, om = _z(np.abs(offset_min) // 60, 2), _z(np.abs(offset_min) % 60, 2)
    offset = _cat(sign, oh, ":", om)
    renders = {
        1: _cat(clock, frac, ampm, offset),
        2: _cat(clock, ampm, offset),
        3: _cat(clock, frac, ampm, zone),
        4: _cat(clock, ampm, zone),
        5: _cat(_z(year, 4), _z(month, 2), _z(day, 2), _z(hour, 2), mi, ss,
                sign, oh, om),
    }
    out = renders[5]
    for f in (4, 3, 2, 1):
        out = pc.if_else(pa.array(fmt == f), renders[f], out)
    return out, src


def render_oracle_dates(days: np.ndarray) -> pa.Array:
    """Epoch days -> ``DD-MON-YY`` (the reference's ``parse_date`` input)."""
    year, month, day, *_ = _civil(days.astype(np.int64) * _DAY_US)
    return _cat(
        _z(day, 2), "-", pa.array(_MONTHS[month - 1]), "-", _z(year % 100, 2)
    )


# --------------------------------------------------------------------------
# CSV writing
# --------------------------------------------------------------------------


def _text(a) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def _fixed2(x: np.ndarray) -> pa.Array:
    """Two-decimal text of a float array (values already rounded)."""
    cents = np.rint(np.abs(x) * 100).astype(np.int64)
    sign = pa.array(np.where(x < 0, "-", ""))
    return _cat(sign, _text(cents // 100), ".", _z(cents % 100, 2))


def _quoted(a) -> pa.Array:
    """RFC 4180 quoting: wrap in quotes, double embedded quotes."""
    return _cat('"', pc.replace_substring(pa.array(a), '"', '""'), '"')


def _write_csv(path: Path, header: list[str], columns: list[pa.Array]) -> int:
    lines = pc.binary_join_element_wise(*columns, ",")
    data = (",".join(header) + "\n" + "\n".join(lines.to_pylist()) + "\n").encode()
    path.write_bytes(data)
    return len(data)


def _split(keys: np.ndarray, n_files: int) -> list[np.ndarray]:
    """pmod split: row i goes to file ``key mod n_files``."""
    part = np.mod(keys, n_files)
    return [np.flatnonzero(part == k) for k in range(n_files)]


# --------------------------------------------------------------------------
# Table bodies (shared by the CSV dumps and the parquet catalog)
# --------------------------------------------------------------------------


def _events(seed: int, n: int, n_users: int, days: int):
    rng = _rng(seed, "events")
    # strictly increasing, unique microsecond instants over ``days``:
    # as-of joins and sessionization see no timestamp ties
    gaps = rng.integers(1, 2 * days * _DAY_US // n, n)
    ts = _EPOCH_2024_US + np.cumsum(gaps)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype(np.int64),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.round(rng.uniform(0, 200, n), 2),
        "k": rng.integers(0, 100, n),
    }


def _orders(seed: int, n: int, n_cust: int):
    rng = _rng(seed, "orders")
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), n),
        "o_totalprice": np.round(rng.uniform(1000, 400_000, n), 2),
        # days since epoch, 1995-01-01 .. 2001-08-01
        "o_orderdate": rng.integers(9131, 11535, n).astype(np.int64),
        "o_orderpriority": rng.choice(_PRIORITIES, n),
    }


def _customers(seed: int, n: int):
    rng = _rng(seed, "customer")
    return {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n),
    }


def _lineitem(seed: int, n: int, n_orders: int, key_shift: int = 0):
    rng = _rng(seed, f"lineitem:{key_shift}")
    ship_days = rng.integers(9132, 11535, n)
    return {
        "l_orderkey": (rng.integers(0, n_orders, n) + key_shift).astype(np.int64),
        "l_partkey": rng.integers(0, 20_000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 1_000, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        # ship instant: a day in 1995..2001 plus a time of day
        "l_shipdate": (
            ship_days * _DAY_US + rng.integers(0, _DAY_US, n)
        ).astype(np.int64),
    }


# --------------------------------------------------------------------------
# Workload corpora
# --------------------------------------------------------------------------


def _dump_body(out: Path, tables: dict, typed: dict, hook: list[str],
               archives: int) -> dict:
    """Write the typing post-load hook and return the dump manifest body."""
    hooks = out / "hooks"
    hooks.mkdir()
    (hooks / "typing.sql").write_text(";\n".join(hook) + ";\n")
    return {
        "tables": tables, "typed": typed, "archives": archives,
        "csv_bytes": sum(t["csv_bytes"] for t in tables.values()),
    }


def _gen_many_small(seed: int, out: Path) -> dict:
    """events/orders/customer pmod-split into small CSVs inside zips."""
    stage = out / "stage"
    stage.mkdir(parents=True)
    cfg = MANY_SMALL
    ev = _events(seed, cfg["events"]["rows"], 1_500, days=30)
    od = _orders(seed, cfg["orders"]["rows"], cfg["customer"]["rows"])
    cu = _customers(seed, cfg["customer"]["rows"])
    rng = _rng(seed, "render")

    ts_text, ts_src = render_oracle_timestamps(ev["ts"], rng)
    # a seeded share of event types carry literal quotes that strip()
    # must remove
    etype = pa.array(ev["event_type"])
    quoted = pa.array(rng.random(len(etype)) < 0.25)
    etype = pc.if_else(quoted, _quoted(_cat('"', etype, '"')), etype)
    props = _quoted(_cat('{"k": ', _text(ev["k"]), "}"))
    cname = _quoted(_cat('"', pa.array(cu["c_name"]), '"'))

    tables = {
        "events": (
            ["event_id", "ts", "user_id", "event_type", "value", "props"],
            ev["event_id"],
            [_text(ev["event_id"]), ts_text, _text(ev["user_id"]),
             etype, _fixed2(ev["value"]), props],
        ),
        "orders": (
            ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
             "o_orderdate", "o_orderpriority"],
            od["o_orderkey"],
            [_text(od["o_orderkey"]), _text(od["o_custkey"]),
             pa.array(od["o_orderstatus"]), _fixed2(od["o_totalprice"]),
             render_oracle_dates(od["o_orderdate"]),
             pa.array(od["o_orderpriority"])],
        ),
        "customer": (
            ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
             "c_mktsegment"],
            cu["c_custkey"],
            [_text(cu["c_custkey"]), cname, _text(cu["c_nationkey"]),
             _fixed2(cu["c_acctbal"]), pa.array(cu["c_mktsegment"])],
        ),
    }
    manifest_tables = {}
    members: list[Path] = []
    for name, (header, keys, cols) in tables.items():
        n_files = cfg[name]["files"]
        nbytes = 0
        for k, idx in enumerate(_split(keys, n_files)):
            p = stage / f"{name}_{k:03d}.csv"
            nbytes += _write_csv(p, header, [c.take(idx) for c in cols])
            members.append(p)
        manifest_tables[name] = {
            "files": n_files, "rows": int(len(keys)), "csv_bytes": nbytes,
        }

    # archive a holds part k of every table for k = a mod #archives (a
    # dump split into time slices), so every seed packs the same shape;
    # the dump tree holds only the archives, so every CSV the program
    # sees comes out of a zip
    dump = out / "dump"
    dump.mkdir()
    for a in range(MANY_SMALL_ARCHIVES):
        with zipfile.ZipFile(dump / f"dump_{a:02d}.zip", "w") as zf:
            for m in members:
                if int(m.stem.rsplit("_", 1)[1]) % MANY_SMALL_ARCHIVES != a:
                    continue
                # fixed member timestamps keep archives byte-identical
                info = zipfile.ZipInfo(m.name, (2020, 1, 1, 0, 0, 0))
                info.compress_type = zipfile.ZIP_DEFLATED
                zf.writestr(info, m.read_bytes())
    shutil.rmtree(stage)

    hook = [
        "CREATE TABLE typed_events USING parquet AS SELECT "
        "CAST(event_id AS BIGINT) AS event_id, parse_timestamp(ts) AS ts, "
        "CAST(user_id AS BIGINT) AS user_id, strip(event_type) AS event_type, "
        "CAST(value AS DECIMAL(12,2)) AS value, props FROM import_events",
        "CREATE TABLE typed_orders USING parquet AS SELECT "
        "CAST(o_orderkey AS BIGINT) AS o_orderkey, "
        "CAST(o_custkey AS BIGINT) AS o_custkey, o_orderstatus, "
        "CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice, "
        "parse_date(o_orderdate) AS o_orderdate, "
        "strip(o_orderpriority) AS o_orderpriority FROM import_orders",
        "CREATE TABLE typed_customer USING parquet AS SELECT "
        "CAST(c_custkey AS BIGINT) AS c_custkey, strip(c_name) AS c_name, "
        "CAST(c_nationkey AS INT) AS c_nationkey, "
        "CAST(c_acctbal AS DECIMAL(12,2)) AS c_acctbal, c_mktsegment "
        "FROM import_customer",
    ]
    typed = {
        "typed_events": {
            "rows": manifest_tables["events"]["rows"],
            "key": "event_id", "ts": "ts",
            "ts_checksum": weighted_checksum(ev["event_id"], ts_src),
            "ts_min": int(ts_src.min()), "ts_max": int(ts_src.max()),
            "text": "event_type",
            "text_values": sorted(set(ev["event_type"].tolist())),
        },
        "typed_orders": {
            "rows": manifest_tables["orders"]["rows"],
            "key": "o_orderkey", "date": "o_orderdate",
            "date_checksum": weighted_checksum(
                od["o_orderkey"], od["o_orderdate"]
            ),
        },
        "typed_customer": {
            "rows": manifest_tables["customer"]["rows"],
            "key": "c_custkey", "name": "c_name",
        },
    }
    return _dump_body(out, manifest_tables, typed, hook, MANY_SMALL_ARCHIVES)


def _gen_few_large(seed: int, out: Path) -> dict:
    """Key-shifted lineitem copies as a few large CSVs in one group."""
    dump = out / "dump"
    dump.mkdir(parents=True)
    n_files, per = FEW_LARGE["files"], FEW_LARGE["rows_per_file"]
    rng = _rng(seed, "render")
    nbytes = 0
    keys_all, ts_all = [], []
    for k in range(n_files):
        li = _lineitem(seed, per, 150_000, key_shift=k * 1_000_000)
        ship_text, ship_src = render_oracle_timestamps(li["l_shipdate"], rng)
        # row key: position in the combined table
        keys_all.append(np.arange(per, dtype=np.int64) + k * per)
        ts_all.append(ship_src)
        header = [*li, "l_rowkey"]
        cols = [
            _text(li["l_orderkey"]), _text(li["l_partkey"]),
            _text(li["l_suppkey"]), _text(li["l_linenumber"]),
            _fixed2(li["l_quantity"]), _fixed2(li["l_extendedprice"]),
            _fixed2(li["l_discount"]), _fixed2(li["l_tax"]),
            pa.array(li["l_returnflag"]), pa.array(li["l_linestatus"]),
            ship_text,
            # the row key rides along as a column so the timestamp
            # checksum can pair each parsed value with its source row
            _text(keys_all[-1]),
        ]
        nbytes += _write_csv(dump / f"lineitem_{k + 1:02d}.csv", header, cols)
    keys = np.concatenate(keys_all)
    ts_src = np.concatenate(ts_all)
    hook = [
        "CREATE TABLE typed_lineitem USING parquet AS SELECT "
        "CAST(l_orderkey AS BIGINT) AS l_orderkey, "
        "CAST(l_partkey AS BIGINT) AS l_partkey, "
        "CAST(l_suppkey AS BIGINT) AS l_suppkey, "
        "CAST(l_linenumber AS INT) AS l_linenumber, "
        "CAST(l_quantity AS DECIMAL(12,2)) AS l_quantity, "
        "CAST(l_extendedprice AS DECIMAL(12,2)) AS l_extendedprice, "
        "CAST(l_discount AS DECIMAL(4,2)) AS l_discount, "
        "CAST(l_tax AS DECIMAL(4,2)) AS l_tax, "
        "strip(l_returnflag) AS l_returnflag, l_linestatus, "
        "parse_timestamp(l_shipdate) AS l_shipdate, "
        "CAST(l_rowkey AS BIGINT) AS l_rowkey FROM import_lineitem",
    ]
    tables = {"lineitem": {
        "files": n_files, "rows": n_files * per, "csv_bytes": nbytes,
    }}
    typed = {"typed_lineitem": {
        "rows": n_files * per, "key": "l_rowkey", "ts": "l_shipdate",
        "ts_checksum": weighted_checksum(keys, ts_src),
        "ts_min": int(ts_src.min()), "ts_max": int(ts_src.max()),
    }}
    return _dump_body(out, tables, typed, hook, 0)


def _documents(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "documents")
    lengths = rng.integers(8, 80, n)
    words = rng.choice(_VOCAB, int(lengths.sum()))
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # a seeded share of documents are near-copies of an earlier one
    # (one word replaced), so the near-duplicate queries find pairs
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i == 0:
            continue
        src = texts[int(rng.integers(0, i))].split(" ")
        src[int(rng.integers(0, len(src)))] = str(rng.choice(_VOCAB))
        texts[i] = " ".join(src)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(np.array(["en", "de", "fr", "es", "zh"]), n)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(seed: int, n: int, dim: int = 64) -> pa.Table:
    rng = _rng(seed, "embeddings")
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0, 1, (10, dim))
    vecs = (centers[labels] + rng.normal(0, 0.6, (n, dim))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def _ts_us(a: np.ndarray) -> pa.Array:
    return pa.array(a.astype("datetime64[us]"), type=pa.timestamp("us"))


def _gen_query_mix(seed: int, out: Path) -> dict:
    """One parquet file per table, named as the query library expects."""
    sf = out / "sf"
    sf.mkdir(parents=True)
    c = QUERY_MIX
    rng = _rng(seed, "dims")
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    cu = _customers(seed, c["customer"])
    customer = pa.table({k: pa.array(v) for k, v in cu.items()})
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(c["supplier"], dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(c["supplier"])]),
        "s_nationkey": pa.array(rng.integers(0, 25, c["supplier"]).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, c["supplier"]), 2)),
    })
    od = _orders(seed, c["orders"], c["customer"])
    orders = pa.table({
        **{k: pa.array(v) for k, v in od.items() if k != "o_orderdate"},
        "o_orderdate": _ts_us(od["o_orderdate"] * _DAY_US),
    }).select(list(od))
    li = _lineitem(seed, c["lineitem"], c["orders"])
    li["l_suppkey"] = li["l_suppkey"] % c["supplier"]
    li["l_shipdate"] = li["l_shipdate"] - li["l_shipdate"] % _DAY_US
    lineitem = pa.table({
        **{k: pa.array(v) for k, v in li.items() if k != "l_shipdate"},
        "l_shipdate": _ts_us(li["l_shipdate"]),
    })
    # dense enough per user that sessions span several events
    ev = _events(seed, c["events"], c["users"], days=2)
    events = pa.table({
        "event_id": pa.array(ev["event_id"]),
        "ts": _ts_us(ev["ts"]),
        "user_id": pa.array(ev["user_id"]),
        "event_type": pa.array(ev["event_type"]),
        "value": pa.array(ev["value"]),
        "props": pa.array([f'{{"k": {k}}}' for k in ev["k"]]),
    })
    tables = {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "orders": orders, "lineitem": lineitem,
        "events": events, "documents": _documents(seed, c["documents"]),
        "embeddings": _embeddings(seed, c["embeddings"]),
    }
    manifest_tables = {}
    for name, t in tables.items():
        p = sf / f"{name}.parquet"
        pq.write_table(t, p)
        manifest_tables[name] = {"rows": t.num_rows, "bytes": p.stat().st_size}
    return {"tables": manifest_tables}


GENERATORS = {
    "dump_many_small": _gen_many_small,
    "dump_few_large": _gen_few_large,
    "query_mix": _gen_query_mix,
}


def _digest(root: Path) -> str:
    """sha256 over every input file's relative path and bytes."""
    h = hashlib.sha256()
    for p in sorted(q for q in root.rglob("*") if q.is_file()):
        if p.name == "manifest.json":
            continue
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def generate(workload: str, seed: int, out: Path) -> dict:
    """Write the corpus for (workload, seed) into the empty dir ``out``
    and return its manifest (also written as ``out/manifest.json``)."""
    out.mkdir(parents=True, exist_ok=False)
    manifest = {
        "workload": workload, "seed": seed, "gen_version": GEN_VERSION,
        **GENERATORS[workload](seed, out),
    }
    manifest["digest"] = _digest(out)
    (out / "manifest.json").write_text(json.dumps(manifest, indent=1, sort_keys=True))
    return manifest


def cached_corpus(workload: str, seed: int, cache: Path, keep: int = 3) -> tuple[Path, dict]:
    """The corpus for (workload, seed) under ``cache``, generating it on
    a miss. At most ``keep`` corpora per workload stay on disk."""
    root = cache / f"{workload}-v{GEN_VERSION}-{seed}"
    mf = root / "manifest.json"
    if mf.exists():
        os.utime(root)
        return root, json.loads(mf.read_text())
    if root.exists():  # a generation cut short: start over
        shutil.rmtree(root)
    tmp = cache / f".{root.name}.{os.getpid()}"
    if tmp.exists():
        shutil.rmtree(tmp)
    manifest = generate(workload, seed, tmp)
    try:
        tmp.rename(root)
    except OSError:  # another run generated the same corpus first
        shutil.rmtree(tmp, ignore_errors=True)
    others = sorted(
        (p for p in cache.glob(f"{workload}-v*-*") if p != root),
        key=lambda p: p.stat().st_mtime,
    )
    for old in others[: max(0, len(others) - (keep - 1))]:
        shutil.rmtree(old, ignore_errors=True)
    return root, manifest
