"""Result checking against DuckDB, following tools/check_oracle.py.

An answer is summarised as (row count, column names, canonical column
types, order-insensitive value hash).  Unlike check_oracle.py, the hash
is a sha256 over sorted per-row digests, so it is stable across
processes and an oracle answer can be cached on disk and reused by later
runs on the same data.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from pathlib import Path

import duckdb

# Spark simpleString / pyarrow type string -> one comparable token
# (the table in tools/check_oracle.py).
_CANON = {
    "bigint": "i64", "int": "i32", "smallint": "i16", "tinyint": "i8",
    "double": "f64", "float": "f32", "string": "str", "boolean": "bool",
    "timestamp_ntz": "ts", "timestamp": "ts", "date": "date",
    "array<float>": "list<f32>", "array<double>": "list<f64>",
    "array<string>": "list<str>",
    "int64": "i64", "int32": "i32", "int16": "i16", "int8": "i8",
    "uint64": "i64", "hugeint": "i128", "halffloat": "f16",
    "large_string": "str", "bool": "bool",
    "timestamp[us]": "ts", "timestamp[ns]": "ts", "timestamp[s]": "ts",
    "date32[day]": "date", "date64[ms]": "date",
    "list<item: float>": "list<f32>", "list<item: double>": "list<f64>",
    "list<item: string>": "list<str>", "list<item: large_string>": "list<str>",
}


def canon_type(t: str) -> str:
    t = t.strip()
    for prefix in ("decimal128", "decimal"):
        if t.startswith(prefix):
            return "decimal" + t[len(prefix):].replace(" ", "")
    return _CANON.get(t, t)


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v + 0.0)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return repr(v)


def summarize(cols: list[str], types: dict[str, str], rows) -> dict:
    """`rows` are tuples in `cols` order; `cols` must be sorted."""
    digests = sorted(hashlib.sha1("\x1f".join(_norm(v) for v in r).encode()).digest()
                     for r in rows)
    return {"rows": len(digests), "cols": cols,
            "types": [types[c] for c in cols],
            "hash": hashlib.sha256(b"".join(digests)).hexdigest()}


def summarize_spark(df, rows) -> dict:
    """Summarises `rows`, the collected answer of `df`."""
    cols = sorted(df.columns)
    types = {f.name: canon_type(f.dataType.simpleString()) for f in df.schema.fields}
    idx = [df.columns.index(c) for c in cols]
    return summarize(cols, types, [tuple(r[i] for i in idx) for r in rows])


def summarize_duck(con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    at = con.execute(sql).fetch_arrow_table()
    cols = sorted(at.column_names)
    types = {f.name: canon_type(str(f.type)) for f in at.schema}
    return summarize(cols, types,
                     [tuple(r[c] for c in cols) for r in at.to_pylist()])


def mismatch(got: dict, want: dict) -> str | None:
    """None when equal, else a one-line reason."""
    if got["cols"] != want["cols"]:
        return f"columns {got['cols']} != {want['cols']}"
    if got["types"] != want["types"]:
        return f"types {got['types']} != {want['types']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    if got["hash"] != want["hash"]:
        return f"value hash differs ({got['rows']} rows)"
    return None


def connect(data_dir: str | os.PathLike, tables) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per table, read from the same parquet the
    engine reads."""
    con = duckdb.connect()
    for t in tables:
        p = Path(data_dir) / f"{t}.parquet"
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


class ExpectedCache:
    """Oracle answers for one dataset, persisted as JSON beside it.
    Keyed by query name and a digest of the oracle text, so an edited
    oracle is recomputed instead of served stale."""

    def __init__(self, data_dir: str | os.PathLike, tables):
        self.data_dir = Path(data_dir)
        self.tables = tables
        self.path = self.data_dir / "expected.json"
        self.entries = json.loads(self.path.read_text()) if self.path.exists() else {}
        self._con = None

    @staticmethod
    def _key(name: str, sql: str) -> str:
        return name + ":" + hashlib.sha1(sql.encode()).hexdigest()[:16]

    def get(self, name: str, sql: str) -> dict:
        key = self._key(name, sql)
        if key not in self.entries:
            if self._con is None:
                self._con = connect(self.data_dir, self.tables)
            self.entries[key] = summarize_duck(self._con, sql)
            tmp = self.path.with_suffix(".tmp")
            tmp.write_text(json.dumps(self.entries, indent=0, sort_keys=True))
            tmp.replace(self.path)
        return self.entries[key]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
