"""Deterministic generator for the engine's ten catalog tables.

The engine's queries are written against a synthetic TPC-H-like schema
(`lingo_db_spark.catalog.TABLE_SCHEMAS`): uniform keys, placeholder
domains (`NATION_7`, one-word `p_type`), a word-salad `documents` corpus
with a 5% tail of near-duplicates, and unit-norm 64-d `embeddings`.
This module rebuilds those tables from a seed with numpy, so the
benchmark never depends on data outside its checkout.

Row counts follow the TPC-H scale factor: at `sf` there are 6M*sf
lineitem rows, 1.5M*sf orders, and so on.  `documents` and `embeddings`
have a floor of 500 rows (their size drives all-pairs work, not scans).
`files` > 1 splits every table above 10k rows into that many part files,
each table then being a directory of parquet files.

Usage: python3 perfbench/datagen.py <sf> <out_dir> [files]
"""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated bytes change: cached data and cached oracle
# answers are keyed on it.
DATA_VERSION = 1
BASE_SEED = 20261017

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["red", "new", "hot", "small", "large", "old", "cold", "blue"]
P_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def row_counts(sf: float) -> dict[str, int]:
    def n(base: int) -> int:
        return max(1, int(round(base * sf)))
    return {
        "region": 5, "nation": 25,
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": max(500, n(50_000)), "embeddings": max(500, n(20_000)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng: np.random.Generator, words: list[str], n: int):
    return pa.array(np.asarray(words, dtype=object)[rng.integers(0, len(words), n)],
                    pa.string())


def _days(rng: np.random.Generator, lo: str, hi: str, n: int):
    span = (np.datetime64(hi, "D") - np.datetime64(lo, "D")).astype(int)
    d = rng.integers(0, span + 1, n)
    return pa.array(np.datetime64(lo, "us") + d * np.timedelta64(1, "D"),
                    pa.timestamp("us"))


def generate(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale `sf`, identical for identical `sf`."""
    c = row_counts(sf)
    rng = np.random.default_rng([BASE_SEED, int(sf * 1_000_000)])
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = c["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _choice(rng, SEGMENTS, n)})

    n = c["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})

    n = c["part"]
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": _choice(rng, names, n),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _choice(rng, P_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)})

    n = c["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n), pa.int64()),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": _choice(rng, PRIORITIES, n)})

    n = c["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, c["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, c["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n),
        "l_linestatus": _choice(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n)})

    n = c["events"]
    ts = np.sort(rng.integers(0, 30 * DAY_US, n))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, n // 66), n), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})

    t["documents"] = _documents(rng, c["documents"])
    t["embeddings"] = _embeddings(rng, c["embeddings"])
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad texts of 10-99 words; 5% of rows are a copy of an
    earlier row with one word appended (near-duplicates), a few are
    exact copies."""
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     int(rng.integers(10, 100)))]))
    lang = np.where(rng.random(n) < 0.4, "en",
                    np.asarray(LANGS[1:], dtype=object)[rng.integers(0, 4, n)])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(lang.astype(object), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm 64-d float vectors with a weak per-label direction."""
    label = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 0.15, (10, 64))
    v = rng.normal(0.0, 1.0, (n, 64)) + centers[label]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def write(sf: float, out_dir: str | os.PathLike, files: int = 1) -> Path:
    """Write the tables as `<out_dir>/<table>.parquet` (a file, or a
    directory of `files` part files).  The directory appears atomically:
    an interrupted run leaves no half-written dataset behind."""
    out = Path(out_dir)
    if out.exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in generate(sf).items():
        if files <= 1 or table.num_rows < 10_000:
            pq.write_table(table, tmp / f"{name}.parquet")
            continue
        d = tmp / f"{name}.parquet"
        d.mkdir()
        step = -(-table.num_rows // files)
        for i in range(files):
            pq.write_table(table.slice(i * step, step), d / f"part-{i:03d}.parquet")
    tmp.rename(out)
    return out


if __name__ == "__main__":
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    write(float(sys.argv[1]), sys.argv[2],
          int(sys.argv[3]) if len(sys.argv) > 3 else 1)
