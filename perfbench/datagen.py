"""Deterministic synthetic corpus for the benchmark.

Writes the ten tables `__spark_entry__.TABLES` reads (a TPC-H-like star
schema plus `events`, `documents` and `embeddings`) as one parquet file
each, with the same columns, types and value domains as the repository's
test corpus.  The data seed is fixed: the benchmark's `--seed` varies the
operations, never the data, so every run of a workload reads identical
bytes.

    python3 perfbench/datagen.py OUT_DIR SCALE_FACTOR
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

# rows per unit scale factor (TPC-H cardinalities); documents and
# embeddings have fixed floors so the curation operators see non-trivial
# candidate sets at the smallest scale
_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
_FLOORS = {"documents": 500, "embeddings": 500}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_N_SOURCES = 20
_EMB_DIM = 64


def rows(table: str, sf: float) -> int:
    """Row count of `table` at scale factor `sf`."""
    if table == "region":
        return len(_REGIONS)
    if table == "nation":
        return 25
    return max(_FLOORS.get(table, 1), round(_ROWS[table] * sf))


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    off = rng.integers(0, span + 1, n)
    return np.datetime64(start, "us") + off.astype("timedelta64[D]")


def _money(rng, lo, hi, n) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = {t: rows(t, sf) for t in (*_ROWS, "region", "nation")}
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})

    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, c)]})

    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})

    p = n["part"]
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), p)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), p)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": 900.0 + (np.arange(p) % 1000) / 10.0})

    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, o, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, o)]})

    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _days(rng, li, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})

    e = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, e))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, 1500, e), i64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(40.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})

    out["documents"] = _documents(rng, n["documents"])

    v = n["embeddings"]
    emb = rng.standard_normal((v, _EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(v), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), i32)})
    return out


def _documents(rng, n: int) -> pa.Table:
    """Random-word documents; 5% are a copy of another document with
    ' dup' appended (near duplicates), a few are exact copies."""
    texts: list[str] = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), k)]))
    near = rng.choice(n, n // 20, replace=False)
    for d in near:
        texts[d] = texts[int(rng.integers(0, n))] + " dup"
    for d in rng.choice(n, max(1, n // 600), replace=False):
        texts[d] = texts[int(rng.integers(0, n))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{d % _N_SOURCES}" for d in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def ensure(out_dir: Path, sf: float) -> Path:
    """Generate the corpus for `sf` under `out_dir` unless present.
    Writes to a sibling temp directory and renames it into place, so an
    interrupted run never leaves a partial corpus behind."""
    final = out_dir / f"sf{sf:g}"
    if final.is_dir():
        return final
    tmp = out_dir / f".sf{sf:g}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in _tables(sf).items():
        pq.write_table(table, tmp / f"{name}.parquet")
    os.replace(tmp, final)
    return final


if __name__ == "__main__":
    print(ensure(Path(sys.argv[1]), float(sys.argv[2])))
