"""Seeded input generation for the benchmark.

The benchmark never reads a fixture from outside its checkout, so it
builds its own tables with the schemas of ``catalog.TABLES`` (TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``). Table
content comes from a fixed base seed, so every run sees the same rows; the
workload seed permutes the row order of every table. Row order changes
file layout, partition contents and hash-table build order, but never a
query's answer, so counts such as jobs and bytes written stay comparable
across seeds.

The same seed always yields byte-identical parquet files and, for the ETL
workload, a byte-identical SQLite landing artifact and zip.
"""

from __future__ import annotations

import datetime as dt
import os
import sqlite3
import zipfile
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101

# The flagship join's relations: the tables the ETL landing artifact holds.
FLAGSHIP_TABLES = ("customer", "lineitem", "nation", "orders", "part", "region", "supplier")

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_ADJ = ("blue", "cold", "hot", "red", "small", "new", "old", "large")
_NOUN = ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo")


def _days(start: str, n_days: np.ndarray) -> np.ndarray:
    return (np.datetime64(start, "D") + n_days).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng: np.random.Generator, values, n: int, p=None) -> list[str]:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist()


def make_tables(sf: float) -> dict[str, pa.Table]:
    """Every table at scale factor ``sf``, from the fixed base seed."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs = int(1_000_000 * sf), int(50_000 * sf)
    n_users, n_vecs = max(10, int(15_000 * sf)), max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def table(cols: dict[str, tuple[object, pa.DataType]]) -> pa.Table:
        return pa.table({k: pa.array(v, type=t) for k, (v, t) in cols.items()})

    t: dict[str, pa.Table] = {}
    t["region"] = table({
        "r_regionkey": (np.arange(5), i32),
        "r_name": (["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s),
    })
    t["nation"] = table({
        "n_nationkey": (np.arange(25), i32),
        "n_name": ([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": (np.arange(25) % 5, i32),
    })
    t["customer"] = table({
        "c_custkey": (np.arange(n_cust), i64),
        "c_name": ([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": (rng.integers(0, 25, n_cust), i32),
        "c_acctbal": (_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": (_choice(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                       "HOUSEHOLD", "MACHINERY"], n_cust), s),
    })
    t["supplier"] = table({
        "s_suppkey": (np.arange(n_supp), i64),
        "s_name": ([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": (rng.integers(0, 25, n_supp), i32),
        "s_acctbal": (_money(rng, -999.99, 9999.99, n_supp), f64),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = table({
        "p_partkey": (np.arange(n_part), i64),
        "p_name": (_choice(rng, names, n_part), s),
        "p_brand": ([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], s),
        "p_type": (_choice(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                 "SMALL", "STANDARD"], n_part), s),
        "p_size": (rng.integers(1, 51, n_part), i32),
        "p_retailprice": (np.round(900 + (np.arange(n_part) % 1000) / 10, 1), f64),
    })
    t["orders"] = table({
        "o_orderkey": (np.arange(n_ord), i64),
        "o_custkey": (rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": (_choice(rng, ["F", "O", "P"], n_ord), s),
        "o_totalprice": (_money(rng, 1000, 500_000, n_ord), f64),
        "o_orderdate": (_days("1995-01-01", rng.integers(0, 2404, n_ord)), ts),
        "o_orderpriority": (_choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                          "4-NOT SPECIFIED", "5-LOW"], n_ord), s),
    })
    t["lineitem"] = table({
        "l_orderkey": (rng.integers(0, n_ord, n_line), i64),
        "l_partkey": (rng.integers(0, n_part, n_line), i64),
        "l_suppkey": (rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": (rng.integers(1, 8, n_line), i32),
        "l_quantity": (rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": (_money(rng, 900, 105_000, n_line), f64),
        "l_discount": (rng.integers(0, 11, n_line) / 100, f64),
        "l_tax": (rng.integers(0, 9, n_line) / 100, f64),
        "l_returnflag": (_choice(rng, ["A", "N", "R"], n_line), s),
        "l_linestatus": (_choice(rng, ["F", "O"], n_line), s),
        "l_shipdate": (_days("1995-01-02", rng.integers(0, 2499, n_line)), ts),
    })
    month_us = 30 * 86_400 * 1_000_000
    t["events"] = table({
        "event_id": (np.arange(n_events), i64),
        "ts": (np.datetime64("2024-01-01", "us")
               + np.sort(rng.integers(0, month_us, n_events)).astype("timedelta64[us]"), ts),
        "user_id": (rng.integers(0, n_users, n_events), i64),
        "event_type": (_choice(rng, ["click", "view", "purchase", "signup", "error"],
                               n_events), s),
        "value": (np.round(rng.exponential(50.0, n_events), 2), f64),
        "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], s),
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_choice(rng, _WORDS, int(rng.integers(10, 101)))))
    t["documents"] = table({
        "doc_id": (np.arange(n_docs), i64),
        "text": (texts, s),
        "lang": (_choice(rng, ["en", "zh", "de", "fr", "es"], n_docs,
                         p=[0.41, 0.15, 0.14, 0.15, 0.15]), s),
        "source": ([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": ([len(x) for x in texts], i64),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = table({
        "vec_id": (np.arange(n_vecs), i64),
        "embedding": (list(vecs), pa.list_(pa.float32())),
        "label": (labels, i32),
    })
    return t


def permute(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Seeded row-order permutation of every table (content unchanged)."""
    rng = np.random.default_rng(seed)
    return {name: tbl.take(rng.permutation(tbl.num_rows)) for name, tbl in tables.items()}


def write_parquet_dir(tables: dict[str, pa.Table], out_dir: str | Path) -> Path:
    """One snappy parquet file per table, the ``<sf_dir>/<table>.parquet`` layout."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, out / f"{name}.parquet", compression="snappy")
    return out


def _sqlite_decl(t: pa.DataType) -> str:
    """The closed five-type map of the Access-to-SQLite converter."""
    if pa.types.is_integer(t):
        return "INTEGER"
    if pa.types.is_floating(t):
        return "DOUBLE"
    if pa.types.is_temporal(t):
        return "DATETIME"
    if pa.types.is_binary(t):
        return "BLOB"
    return "TEXT"


def write_sqlite(tables: dict[str, pa.Table], db_path: str | Path) -> Path:
    """The SQLite landing artifact: one table per flagship relation."""
    db_path = Path(db_path)
    db_path.unlink(missing_ok=True)
    conn = sqlite3.connect(db_path)
    try:
        for name in FLAGSHIP_TABLES:
            tbl = tables[name]
            decls = ", ".join(f"'{f.name}' {_sqlite_decl(f.type)}" for f in tbl.schema)
            conn.execute(f"CREATE TABLE '{name}' ({decls})")
            cols = []
            for f, col in zip(tbl.schema, tbl.columns):
                if pa.types.is_timestamp(f.type):
                    col = col.cast(pa.string())  # 'YYYY-MM-DD HH:MM:SS' text
                cols.append(col.to_pylist())
            marks = ", ".join("?" for _ in tbl.schema)
            conn.executemany(f"INSERT INTO '{name}' VALUES ({marks})", zip(*cols))
        conn.commit()
    finally:
        conn.close()
    return db_path


# Zip member timestamps are fixed so the same seed gives the same zip bytes.
_ZIP_TIME = (2024, 1, 1, 0, 0, 0)


def write_zip(db_path: str | Path, member: str, zip_path: str | Path) -> Path:
    zip_path = Path(zip_path)
    info = zipfile.ZipInfo(member, date_time=_ZIP_TIME)
    info.compress_type = zipfile.ZIP_DEFLATED
    with zipfile.ZipFile(zip_path, "w") as zf, open(db_path, "rb") as src:
        zf.writestr(info, src.read())
    return zip_path


def last_modified_for(seed: int) -> dt.datetime:
    """Seeded source ``Last-Modified``: a whole second within 2024."""
    offset = int(np.random.default_rng(seed).integers(0, 365 * 86_400))
    return dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(seconds=offset)


def stamp_mtime(path: str | Path, when: dt.datetime) -> None:
    """Set the file mtime the HTTP server sends as ``Last-Modified``."""
    ts = when.timestamp()
    os.utime(path, (ts, ts))
