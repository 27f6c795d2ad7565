"""The benchmark's workloads: which ops run, on what data, and how the
door journeys (SQL-door writes and the reads over them) are built from
the seed.

Reference-dependent queries (the `sql_*_verbatim` anchors) need the
reference source tree, which is not part of the repository; they are in
no workload and every report lists them as `unavailable`.
"""

from __future__ import annotations

import csv
import random
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import pyarrow.parquet as pq

TPCH = [f"tpch_q{i}" for i in range(1, 23)]


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float                 # datagen scale factor
    files: int                # parquet part files per table
    queries: tuple[str, ...]  # registry queries (catalog views / DataFrames)
    min_passes: int           # timed passes, at least, after the first pass
    tail_pct: float           # query_tail_s percentile (>= 10 samples beyond)
    door: str | None = None   # door journey kind, a key of DOORS
    journeys: int = 1         # distinct door journeys (CSV batches) per seed
    queries_in_journey: bool = False  # registry queries run inside each
                                      # journey, after its door queries
    budget_s: float = 120.0   # no op starts later than this into the stream


WORKLOADS = {w.name: w for w in (
    Workload(
        # two timed passes: with one (about 11 s of timed work), the
        # spread of stmt_p50_s over ten seeds read 0.17-0.31 and that of
        # peak RSS 0.18-0.24; with two, 0.08-0.18 and 0.07-0.14
        "olap_small", sf=0.01, files=1, min_passes=2, tail_pct=80.0,
        # a door write journey on tables of its own names, so the
        # TPC-H views the registry queries read are left alone; its
        # queries cover the connection and sqlrewrite layers
        door="tpch_own",
        # a seven-view catalog query, so catalog view binds show too
        queries=(*TPCH, "job_ten_way_min_chain")),
    Workload(
        # about 3 min a run: more than the benchmark's budget allows, so
        # it is run by hand and is not in BENCHMARK.json
        "olap_large", sf=1.0, files=32, min_passes=2, tail_pct=75.0,
        budget_s=400.0, queries=tuple(TPCH)),
    Workload(
        # four light ops (under 0.4 s warm) and five heavy ones (0.7-1.8 s):
        # with three passes the median and the p58 tail both fall inside
        # the heavy group, not in the gap between the groups, where they
        # would jump between runs
        "llm_pipeline", sf=0.01, files=1, min_passes=3, tail_pct=58.0,
        door="docs",
        queries=("pipeline_dedup_exact", "pipeline_neardup_clusters",
                 "pipeline_embed_neardup", "ann_topk_lsh", "ann_topk_ivf",
                 "ann_topk_ivfpq", "text_quality_stats",
                 "pipeline_lm_likelihood")),
    Workload(
        "door_mixed", sf=0.01, files=1, min_passes=2, tail_pct=70.0,
        door="tpch", journeys=3, queries_in_journey=True,
        # catalog-view registry queries that read the tables the door
        # reloads (customer, orders), run after the door in each journey
        queries=("sql_tpch_q3", "job_ten_way_min_chain",
                 "sql_window_topk_per_group", "sql_corr_select_list")),
)}


# ---------------------------------------------------------------------------
# Door journeys: `Connection.run_script` with CREATE TABLE + COPY of
# seeded CSV batches whose rows differ from the parquet tables, seeded
# INSERT INTO appends, then door queries over the loaded tables.  Each
# door table is loaded from `<table>.tbl` in the journey's directory.
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Door:
    script: str                          # CREATE TABLE + COPY
    schema: dict[str, dict[str, str]]    # door table -> column -> DuckDB type
    queries: dict[str, str]              # the same text runs on DuckDB
    batch: Callable[[random.Random, Path, Path], list[str]]
    # writes the CSV files of one journey into a directory and returns
    # its INSERT statements


def tpch_door(customer: str, orders: str) -> Door:
    """Reloads customer and orders, with reference column types, under
    the given names; appends orders."""
    names = {"customer": customer, "orders": orders}
    script = """
create table {customer} (
    c_custkey    integer       not null,
    c_name       varchar(25)   not null,
    c_nationkey  integer       not null,
    c_acctbal    decimal(12,2) not null,
    c_mktsegment char(10)      not null,
    primary key (c_custkey)
);
create table {orders} (
    o_orderkey      integer       not null,
    o_custkey       integer       not null,
    o_orderstatus   char(1)       not null,
    o_totalprice    decimal(12,2) not null,
    o_orderdate     date          not null,
    o_orderpriority char(15)      not null,
    primary key (o_orderkey)
);
copy {customer} from '{customer}.tbl' delimiter '|';
copy {orders} from '{orders}.tbl' delimiter '|';
""".format(**names)
    queries = {
        # monotone EXISTS: the door's scale rewrite to a scalar aggregate
        "door_exists_segments": """
SELECT c.c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_cust
FROM {customer} c
WHERE EXISTS (SELECT * FROM {orders} o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000)
GROUP BY c.c_mktsegment""",
        # outer reference inside the subquery's aggregate: Catalyst rejects
        # it, the door retries through select-list decorrelation
        "door_corr_select_list": """
SELECT c.c_custkey AS ck,
       (SELECT MAX(o.o_totalprice + c.c_nationkey) FROM {orders} o
        WHERE o.o_custkey = c.c_custkey) AS m
FROM {customer} c WHERE c.c_nationkey < 5""",
        # window top-k per group
        "door_window_topk": """
SELECT o_custkey, o_orderkey, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT o_custkey, o_orderkey,
         RANK() OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM {orders}) t
WHERE rnk <= 2""",
    }
    queries = {k: q.format(**names) for k, q in queries.items()}
    schema = {
        customer: {"c_custkey": "INTEGER", "c_name": "VARCHAR",
                   "c_nationkey": "INTEGER", "c_acctbal": "DECIMAL(12,2)",
                   "c_mktsegment": "VARCHAR"},
        orders: {"o_orderkey": "INTEGER", "o_custkey": "INTEGER",
                 "o_orderstatus": "VARCHAR", "o_totalprice": "DECIMAL(12,2)",
                 "o_orderdate": "DATE", "o_orderpriority": "VARCHAR"},
    }

    def batch(rng: random.Random, data_dir: Path, d: Path) -> list[str]:
        """A seeded subset of the rows with perturbed balances, prices and
        segments, and INSERTS appends of 1-5 orders each."""
        cust = pq.read_table(data_dir / "customer.parquet").to_pylist()
        rows = pq.read_table(data_dir / "orders.parquet").to_pylist()
        segments = sorted({r["c_mktsegment"] for r in cust})
        crow = [r for r in cust if rng.random() < 0.8]
        _write_tbl(d / f"{customer}.tbl", (
            [r["c_custkey"], r["c_name"], r["c_nationkey"],
             f"{r['c_acctbal'] + rng.randint(-5000, 5000) / 100:.2f}",
             rng.choice(segments)] for r in crow))
        orow = [r for r in rows if rng.random() < 0.7]
        _write_tbl(d / f"{orders}.tbl", (
            [r["o_orderkey"], r["o_custkey"], r["o_orderstatus"],
             f"{r['o_totalprice'] * rng.uniform(0.5, 1.5):.2f}",
             r["o_orderdate"].date().isoformat(), r["o_orderpriority"]]
            for r in orow))
        next_key = max(r["o_orderkey"] for r in rows) + 1
        inserts = []
        for i in range(INSERTS):
            vals = ", ".join(
                f"({next_key + i * 10 + k}, {rng.choice(crow)['c_custkey']}, "
                f"'{rng.choice('FOP')}', {rng.randint(100000, 49999900) / 100:.2f}, "
                f"DATE '{1995 + rng.randint(0, 6)}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}', "
                f"'{rng.choice(['1-URGENT', '2-HIGH', '3-MEDIUM'])}')"
                for k in range(rng.randint(1, 5)))
            inserts.append(f"insert into {orders} values {vals}")
        return inserts

    return Door(script, schema, queries, batch)


def docs_door() -> Door:
    """Ingests a batch of documents and appends more, some of them exact
    copies of texts already loaded; the query counts distinct texts."""
    script = """
create table door_docs (
    doc_id bigint     not null,
    lang   varchar(2) not null,
    text   varchar    not null,
    primary key (doc_id)
);
copy door_docs from 'door_docs.tbl' delimiter '|';
"""
    queries = {"door_doc_dups": """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT text) AS BIGINT) AS n_texts
FROM door_docs GROUP BY lang"""}
    schema = {"door_docs": {"doc_id": "BIGINT", "lang": "VARCHAR",
                            "text": "VARCHAR"}}

    def batch(rng: random.Random, data_dir: Path, d: Path) -> list[str]:
        docs = pq.read_table(data_dir / "documents.parquet",
                             columns=["doc_id", "lang", "text"]).to_pylist()
        langs = sorted({r["lang"] for r in docs})
        rows = [r for r in docs if rng.random() < 0.6]
        _write_tbl(d / "door_docs.tbl",
                   ([r["doc_id"], rng.choice(langs), r["text"]] for r in rows))
        next_id = max(r["doc_id"] for r in docs) + 1
        inserts = []
        for i in range(INSERTS):
            vals = ", ".join(
                f"({next_id + i * 10 + k}, '{rng.choice(langs)}', "
                f"'{rng.choice(rows)['text']}')"
                for k in range(rng.randint(1, 3)))
            inserts.append(f"insert into door_docs values {vals}")
        return inserts

    return Door(script, schema, queries, batch)


INSERTS = 16          # INSERT INTO appends per journey: far more than the
                      # script's statements, so stmt_p50_s is an append
DOORS = {"tpch": tpch_door("customer", "orders"),
         "tpch_own": tpch_door("door_customer", "door_orders"),
         "docs": docs_door()}


def _write_tbl(path: Path, rows) -> None:
    with open(path, "w", newline="") as f:
        csv.writer(f, delimiter="|", lineterminator="\n").writerows(rows)


def door_batches(door: Door, data_dir: Path, out_dir: Path, seed: int,
                 journeys: int) -> list[dict]:
    """Writes the CSV batches of `journeys` journeys, drawn from `seed`,
    and returns each journey's directory and INSERT statements."""
    rng = random.Random(seed)
    out = []
    for j in range(journeys):
        d = out_dir / f"j{j}"
        d.mkdir(parents=True, exist_ok=True)
        out.append({"dir": str(d), "inserts": door.batch(rng, data_dir, d)})
    return out


def door_expected(door: Door, data_dir: Path, journey: dict) -> dict[str, dict]:
    """Oracle answers of the door queries after `journey` has loaded and
    appended: DuckDB over the same CSV files and INSERTs, the catalog
    tables read from the parquet."""
    from perfbench import oracle

    con = oracle.connect(data_dir, ("nation", "region", "lineitem", "part",
                                    "supplier"))
    for t, cols in door.schema.items():
        spec = ", ".join(f"'{c}': '{ty}'" for c, ty in cols.items())
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_csv("
                    f"'{journey['dir']}/{t}.tbl', delim='|', header=false, "
                    f"columns={{{spec}}})")
    for stmt in journey["inserts"]:
        con.execute(stmt)
    out = {name: oracle.summarize_duck(con, sql) for name, sql in door.queries.items()}
    con.close()
    return out
