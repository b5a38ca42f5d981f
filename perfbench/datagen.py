"""Deterministic generator for the benchmark's source tables.

Writes the ten tables the engine reads (``region nation customer supplier
part orders lineitem events documents embeddings``) as one parquet file each,
with the schemas, row counts (scale factor 0.1) and value distributions of the
engine's TPC-H-style test data.  The same seed always gives the same bytes, so
expected results recorded once (``expected.json``) stay valid.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "old", "red", "small", "bright", "dark", "green",
            "light", "new", "plain")
PART_NOUN = ("anvil", "bolt", "plate", "ring", "widget")
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
         "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
         "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
LANGS = ("en", "es", "zh", "de", "fr")


def _days(rng: np.random.Generator, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    d = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + d, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def build_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables (scale factor 0.1 row counts)."""
    rng = np.random.default_rng(seed)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    n = 15_000
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), f64),
        "c_mktsegment": _pick(rng, SEGMENTS, n)})
    n = 1_000
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), f64)})
    n = 20_000
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": _pick(rng, names, n),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1), f64)})
    n = 150_000
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, 15_000, n), i64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n), f64),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n),
        "o_orderpriority": _pick(rng, PRIORITIES, n)})
    n = 600_000
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, 150_000, n), i64),
        "l_partkey": pa.array(rng.integers(0, 20_000, n), i64),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n), f64),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, f64),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n)})
    n = 100_000
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(start + offsets, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1_500, n), i64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.minimum(np.round(rng.exponential(50.0, n), 2), 560.21), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})
    out["documents"] = _documents(rng)
    n = 2_000
    emb = rng.standard_normal((n, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), i32)})
    return out


def _documents(rng: np.random.Generator, n: int = 5_000) -> pa.Table:
    """Random bag-of-words texts over a 30-word vocabulary, with 250 planted
    near-duplicates (an earlier text plus the token ``dup``) and 8 exact
    duplicates, so the dedup and similarity operators have work to find."""
    lens = rng.integers(10, 101, n)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    planted = rng.choice(np.arange(1, n), 258, replace=False)
    for j, i in enumerate(planted):
        src = int(rng.integers(0, i))
        texts[i] = texts[src] + (" dup" if j < 250 else "")
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, p=(0.4, 0.15, 0.15, 0.15, 0.15)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def fingerprint(data_dir: str) -> str:
    """sha256 over every table file, in table order."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as fh:
            h.update(t.encode())
            h.update(fh.read())
    return h.hexdigest()


def ensure_data(data_dir: str, seed: int = DATA_SEED) -> str:
    """Generate the tables into ``data_dir`` unless a complete copy is there;
    returns the data fingerprint.  Writes to a sibling temp dir first so an
    interrupted run never leaves a half-written tree behind."""
    marker = os.path.join(data_dir, "_COMPLETE")
    if not os.path.exists(marker):
        tmp = f"{data_dir}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name, table in build_tables(seed).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                           compression="snappy", row_group_size=1 << 20)
        with open(os.path.join(tmp, "_COMPLETE"), "w") as fh:
            fh.write(fingerprint(tmp))
        shutil.rmtree(data_dir, ignore_errors=True)
        os.rename(tmp, data_dir)
    with open(marker) as fh:
        return fh.read().strip()
