"""Traced runs: spans around the engine's layers, and Spark's own counters.

Spans are kept in memory and written with the run report.  A span has a
name, start, end (epoch seconds), parent span and the id of the op it
belongs to.  Wrapping happens from outside the engine:

- PySpark entry points every module goes through, whichever way it
  imported the catalog helpers: `DataFrameReader.parquet`
  (catalog.parquet_read), `DataFrame.createOrReplaceTempView`
  (catalog.view_bind) and `SparkSession.sql` (spark.sql);
- the catalog helpers `load_table`/`register_views`, replaced at every
  module that imported them by name;
- the SQL door: `Connection.sql`, `sql_stmt`, `run_script`, and the
  rewrites it imports at call time (`sqlrewrite.exists_to_aggregate`,
  `sqlrewrite.decorrelate_select_list`, the `dialect` shims).

After each op, `spark_counters` reads the Catalyst phase times from the
QueryExecution's QueryPlanningTracker, the op's jobs, stages and tasks
from the status tracker (every op runs in its own job group), and SQL
metrics plus a plan fingerprint from the executed physical plan.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from contextlib import contextmanager

PYTHON_NODE_MARKERS = ("Python", "Pandas", "MapInArrow")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self.enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled or threading.current_thread() is not threading.main_thread():
            yield None
            return
        with self._lock:
            rec = {"id": len(self.spans), "op": self.op, "name": name,
                   "start": time.time(), "end": None,
                   "parent": self._stack[-1] if self._stack else None, **attrs}
            self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs):
        with self._lock:
            self.spans.append({"id": len(self.spans), "op": self.op, "name": name,
                               "start": start, "end": end, "parent": parent, **attrs})

    def op_spans(self, op: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]


def _wrapped(tracer: Tracer, fn, name: str, on_result=None):
    @functools.wraps(fn)
    def inner(*args, **kwargs):
        with tracer.span(name) as rec:
            out = fn(*args, **kwargs)
            if rec is not None and on_result is not None:
                on_result(rec, args, out)
            return out
    inner.__perfbench_original__ = fn
    return inner


def _rewrite_fired(rec, args, out):
    rec["fired"] = isinstance(out, str) and bool(args) and out != args[0]


def install(tracer: Tracer, spark) -> None:
    """Wraps the layer entry points (idempotent per process)."""
    from lingo_db_spark import catalog, connection, dialect, sqlrewrite

    targets = [
        (type(spark.read), "parquet", "catalog.parquet_read", None),
        (type(spark.range(0)), "createOrReplaceTempView", "catalog.view_bind", None),
        (type(spark), "sql", "spark.sql", None),
        (connection.Connection, "sql", "connection.sql", None),
        (connection.Connection, "sql_stmt", "connection.stmt", None),
        (connection.Connection, "run_script", "connection.script", None),
        (sqlrewrite, "exists_to_aggregate", "sqlrewrite.rewrite", _rewrite_fired),
        (sqlrewrite, "decorrelate_select_list", "sqlrewrite.rewrite", _rewrite_fired),
        (dialect, "apply_parse_shims", "dialect.shim", _rewrite_fired),
        (dialect, "apply_analysis_shims", "dialect.shim", _rewrite_fired),
    ]
    for owner, attr, name, hook in targets:
        fn = getattr(owner, attr)
        if not hasattr(fn, "__perfbench_original__"):
            setattr(owner, attr, _wrapped(tracer, fn, name, hook))
    # load_table/register_views are imported by name into many query
    # modules: replace them wherever they were bound.
    for attr, name in (("load_table", "catalog.load_table"),
                       ("register_views", "catalog.register_views")):
        orig = getattr(catalog, attr)
        orig = getattr(orig, "__perfbench_original__", orig)
        wrapper = _wrapped(tracer, orig, name)
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("lingo_db_spark")
                    and getattr(mod, attr, None) is orig):
                setattr(mod, attr, wrapper)


def _iter_scala(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def _plan_nodes(node, out: list) -> list:
    """Every node of an executed physical plan, looking through AQE
    wrappers, query stages and subqueries (cached relations are separate
    executions and are not entered)."""
    out.append(node)
    cls = node.getClass().getSimpleName()
    if cls.startswith("AdaptiveSparkPlan"):
        return _plan_nodes(node.executedPlan(), out)
    if cls.endswith("QueryStageExec") and not cls.startswith("TableCache"):
        return _plan_nodes(node.plan(), out)
    for child in _iter_scala(node.children()):
        _plan_nodes(child, out)
    for sub in _iter_scala(node.subqueries()):
        _plan_nodes(sub, out)
    return out


def plan_counters(df) -> dict:
    """SQL metrics and node-kind counts of `df`'s executed plan."""
    qe = df._jdf.queryExecution()
    c = dict.fromkeys((
        "plan.exchanges", "plan.broadcast_exchanges", "plan.reused_exchanges",
        "plan.sort_merge_joins", "plan.hash_joins", "plan.python_nodes",
        "exec.shuffle_bytes", "exec.spill_bytes", "exec.broadcast_bytes",
        "udf.python_total_s", "udf.python_boot_s", "udf.rows",
        "udf.bytes_sent"), 0)
    for node in _plan_nodes(qe.executedPlan(), []):
        name = node.nodeName()
        m = {kv._1(): kv._2().value() for kv in _iter_scala(node.metrics())}
        if name == "Exchange":
            c["plan.exchanges"] += 1
            c["exec.shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        elif name == "BroadcastExchange":
            c["plan.broadcast_exchanges"] += 1
            c["exec.broadcast_bytes"] += m.get("dataSize", 0)
        elif name.startswith("ReusedExchange"):
            c["plan.reused_exchanges"] += 1
        elif name == "SortMergeJoin":
            c["plan.sort_merge_joins"] += 1
        elif name in ("ShuffledHashJoin", "BroadcastHashJoin"):
            c["plan.hash_joins"] += 1
        if any(k in name for k in PYTHON_NODE_MARKERS):
            c["plan.python_nodes"] += 1
            c["udf.python_total_s"] += m.get("pythonTotalTime", 0) / 1000.0
            c["udf.python_boot_s"] += (m.get("pythonBootTime", 0)
                                       + m.get("pythonInitTime", 0)) / 1000.0
            c["udf.rows"] += m.get("pythonNumRowsReceived", 0)
            c["udf.bytes_sent"] += m.get("pythonDataSent", 0)
        c["exec.spill_bytes"] += m.get("spillSize", 0)
    return c


def _container(spans: list[dict], start: float, end: float, default):
    """Id of the innermost span of `spans` covering [start, end] (5 ms
    slack: the JVM clock has millisecond resolution)."""
    best = None
    for s in spans:
        if (s["end"] is not None and s["start"] - 0.005 <= start
                and end <= s["end"] + 0.005
                and (best is None or s["start"] >= best["start"])):
            best = s
    return best["id"] if best is not None else default


def spark_counters(spark, df, group: str, build_jobs: int,
                   tracer: Tracer, op_span: int | None) -> dict:
    """Catalyst phases, jobs/stages/tasks and plan metrics of one op.
    Adds a span per Catalyst phase and per Spark job (from the status
    store), under the benchmark span that was open when it ran."""
    sc = spark.sparkContext
    frame = [s for s in tracer.op_spans(group)
             if s["name"] in ("op", "queries.build", "exec.collect")]
    out: dict = {"queries.build_jobs": build_jobs}
    if df is not None:
        phases = {kv._1(): kv._2()
                  for kv in _iter_scala(df._jdf.queryExecution().tracker().phases())}
        for phase in ("analysis", "optimization", "planning"):
            p = phases.get(phase)
            out[f"catalyst.{phase}_s"] = p.durationMs() / 1000.0 if p else 0.0
            if p is not None:
                a, b = p.startTimeMs() / 1000.0, p.endTimeMs() / 1000.0
                tracer.add(f"catalyst.{phase}", a, b, _container(frame, a, b, op_span))
        out.update(plan_counters(df))
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    stages = tasks = 0
    store = sc._jsc.sc().statusStore()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            for s in info.stageIds:
                stages += 1
                st = tracker.getStageInfo(s)
                tasks += st.numTasks if st is not None else 0
        try:
            jd = store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                a, b = sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0
                tracer.add("spark.job", a, b, _container(frame, a, b, op_span), job_id=j)
        except Exception:  # noqa: BLE001 - job already evicted from the store
            pass
    out.update({"exec.jobs": len(jobs), "exec.stages": stages, "exec.tasks": tasks})
    jsc = sc._jsc
    out["cache.persisted_rdds"] = jsc.getPersistentRDDs().size()
    out["cache.bytes"] = sum(i.memSize() + i.diskSize()
                             for i in jsc.sc().getRDDStorageInfo())
    return out


def span_layers(spans: list[dict]) -> dict:
    """Per-op layer times and counts from the op's spans.  A layer's time
    is the sum of its outermost spans, so nested calls (Connection.sql
    retrying through itself, register_views calling load_table) are not
    counted twice."""
    index = {s["id"]: s for s in spans}

    def outermost(prefix: str) -> float:
        return sum(s["end"] - s["start"] for s in spans
                   if s["name"].startswith(prefix) and s["end"] is not None
                   and not _under(s, prefix, index))

    def count(name: str) -> int:
        return sum(1 for s in spans if s["name"] == name)

    rewrites = [s for s in spans if s["name"] == "sqlrewrite.rewrite"]
    door_sql = count("connection.sql")
    return {
        "catalog.parquet_reads": count("catalog.parquet_read"),
        "catalog.view_binds": count("catalog.view_bind"),
        "catalog.bind_s": outermost("catalog."),
        "connection.sql_s": outermost("connection.sql"),
        "connection.sql_calls": door_sql,
        "connection.spark_sql_in_door": sum(
            1 for s in spans if s["name"] == "spark.sql"
            and _under(s, "connection.sql", index)),
        "sqlrewrite.rewrite_s": outermost("sqlrewrite.") + outermost("dialect."),
        "sqlrewrite.attempts": len(rewrites),
        "sqlrewrite.fired": sum(1 for s in rewrites if s.get("fired")),
        "connection.stmt_s": outermost("connection.stmt"),
        "connection.stmts": count("connection.stmt"),
    }


def _under(span: dict, prefix: str, index: dict) -> bool:
    p = span["parent"]
    while p is not None and p in index:
        if index[p]["name"].startswith(prefix):
            return True
        p = index[p]["parent"]
    return False
