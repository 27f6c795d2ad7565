#!/usr/bin/env python3
"""Benchmark runner: one oracle-checked, closed-loop query stream.

    python3 perfbench/run.py --workload olap_small --seed 1 --seconds 10 --trace 0

One client thread drives one shared SparkSession at local[<cores>].  A
run:

1. builds the workload's dataset (perfbench/datagen.py) and its DuckDB
   oracle answers once per checkout, and caches both under
   perfbench/.cache (not timed, not part of setup_s);
2. sets up cold and reports the time as `setup_s`: import pyspark,
   launch the JVM and build the session, import the query registry,
   resolve the tables.  One cold set-up costs 9-13 s, so a run does
   one, and the steadiness of `setup_s` comes from the median over runs;
3. runs a cold first pass over the workload's distinct ops, in workload
   order (`first_pass_s`), then timed passes until `--seconds` have
   passed and at least the workload's minimum number of passes is done.
   Each timed pass runs the ops in an order drawn from `--seed`;
4. checks every op's answer against DuckDB (row count, column names,
   canonical types and an order-insensitive value hash).  An exception,
   a timeout or a mismatch is a failure: it is counted in `failed`,
   named in the report with its error class, and gives no latency
   sample.

With `--trace 1` the timed passes trace every other op (the other half
in the next pass) and the per-layer metrics come from the traced ops
(perfbench/trace.py); traced minus untraced latency is reported as
`trace.overhead_s`.
The last stdout line is the JSON result; the full report (every op,
host noise, spans when traced) goes to perfbench/.out/.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
CACHE = BENCH / ".cache"
OUT = BENCH / ".out"

OP_TIMEOUT_S = 45.0       # an op still running after this is cancelled

END_TO_END_UNITS = {
    "setup_s": "s", "first_pass_s": "s", "query_p50_s": "s",
    "query_tail_s": "s", "qps": "1/s", "stmt_p50_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "session.build_s": "s", "queries.load_all_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "catalog.parquet_reads": "count", "catalog.view_binds": "count",
    "catalog.bind_s": "s",
    "connection.sql_s": "s", "connection.analyses": "count",
    "sqlrewrite.rewrite_s": "s", "sqlrewrite.fired_ratio": "ratio",
    "connection.stmt_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.collect_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.broadcast_bytes": "bytes",
    "plan.exchanges": "count", "plan.broadcast_exchanges": "count",
    "plan.reused_exchanges": "count", "plan.sort_merge_joins": "count",
    "plan.hash_joins": "count", "plan.python_nodes": "count",
    "udf.python_total_s": "s", "udf.python_boot_s": "s",
    "udf.rows": "count", "udf.bytes_sent": "bytes",
    "cache.persisted_rdds": "count", "cache.bytes": "bytes",
    "trace.overhead_s": "s",
}
# per-op means of these come straight from the traced op records
_PER_OP_MEANS = [k for k in PER_LAYER_UNITS if k not in (
    "session.build_s", "queries.load_all_s", "connection.analyses",
    "sqlrewrite.fired_ratio", "connection.stmt_s", "trace.overhead_s")
    and not k.startswith("plan.")]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


@dataclass
class Op:
    name: str
    kind: str                          # "query" | "stmt"
    build: Callable[[], object]        # returns a lazy DataFrame, or None
    expected: Callable[[], dict | None]
    journey: int | None = None


def parse_args(argv):
    from perfbench.workloads import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env() -> None:
    """Environment for the JVM and the Python workers it forks, set
    before pyspark starts: workers import lingo_db_spark from the
    checkout whatever their cwd, and every scratch file stays inside the
    checkout."""
    tmp = CACHE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # overrides the engine's tmpfs default (/dev/shm): a run writes only
    # inside its checkout; README.md gives the measured difference
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(CACHE / "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = str(CACHE / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable


def ensure_data(wl) -> Path:
    from perfbench import datagen
    d = CACHE / "data" / f"v{datagen.DATA_VERSION}-sf{wl.sf:g}-f{wl.files}"
    if not d.exists():
        t = time.perf_counter()
        datagen.write(wl.sf, d, wl.files)
        log(f"[perfbench] generated {d.name} in {time.perf_counter() - t:.1f}s")
    return d


def set_up(data_dir: Path) -> tuple[object, dict, dict]:
    """import pyspark, launch the JVM and build the session, import the
    registry, resolve the tables; returns the session, the registry and
    the step timings.  Cold: the process has not imported pyspark yet."""
    t0 = time.perf_counter()
    from lingo_db_spark.session import build_session
    spark = build_session("perfbench")
    t1 = time.perf_counter()
    from lingo_db_spark.queries import load_all
    registry = load_all()
    t2 = time.perf_counter()
    from lingo_db_spark.catalog import load_tables
    load_tables(spark, str(data_dir))
    t3 = time.perf_counter()
    return spark, registry, {"setup_s": t3 - t0, "session.build_s": t1 - t0,
                             "queries.load_all_s": t2 - t1,
                             "catalog.resolve_s": t3 - t2}


def error_class(e: BaseException) -> str:
    jexc = getattr(e, "java_exception", None)
    if jexc is not None:
        try:
            return f"{type(e).__name__}:{jexc.getClass().getName()}"
        except Exception:  # noqa: BLE001
            pass
    return type(e).__name__


def nearest_rank(values: list[float], pct: float) -> float:
    s = sorted(values)
    return s[max(0, math.ceil(pct / 100.0 * len(s)) - 1)]


class Runner:
    def __init__(self, spark, registry, wl, data_dir: Path, seed: int, tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.registry = registry
        self.wl = wl
        self.data_dir = data_dir
        self.rng = random.Random(seed)
        self.seed = seed
        self.tracer = tracer
        self.records: list[dict] = []
        self.stmt_samples: list[tuple[int, float]] = []   # (pass, seconds)
        self.seq = 0
        self.t_start = 0.0         # set when the first pass starts
        self.pass_no = 0
        self.trace_passes = False
        self.traced = False

    # -- op construction ------------------------------------------------
    def registry_op(self, name: str, cache) -> Op:
        spec = self.registry[name]
        return Op(name, "query", lambda: spec.spark_fn(self.spark, str(self.data_dir)),
                  (lambda: cache.get(name, spec.oracle)) if spec.oracle else (lambda: None))

    def door_ops(self, cache) -> list[list[Op]]:
        """One unit per door journey: the script, the INSERTs and the door
        queries, then, on `queries_in_journey` workloads, the registry
        queries.  Statements return nothing; the door queries that follow
        them check what they wrote."""
        from perfbench import workloads as W
        from lingo_db_spark.connection import Connection
        door = W.DOORS[self.wl.door]
        batches = W.door_batches(door, self.data_dir,
                                 CACHE / "door" / self.wl.door / f"seed{self.seed}",
                                 self.seed, self.wl.journeys)
        journeys = []
        for j, batch in enumerate(batches):
            want = W.door_expected(door, self.data_dir, batch)
            state: dict = {}

            def script(batch=batch, state=state):
                con = Connection(self.spark)
                original = con.sql_stmt

                def timed_stmt(stmt, _orig=original):
                    t = time.perf_counter()
                    try:
                        return _orig(stmt)
                    finally:
                        self.stmt_samples.append((self.pass_no, time.perf_counter() - t))
                con.sql_stmt = timed_stmt
                state["con"] = con
                con.run_script(door.script, base_dir=batch["dir"])

            ops = [Op("door_script", "stmt", script, lambda: None, j)]
            for i, stmt in enumerate(batch["inserts"]):
                ops.append(Op(f"door_insert_{i}", "stmt",
                              lambda stmt=stmt, state=state: state["con"].sql_stmt(stmt),
                              lambda: None, j))
            for qname, sql in door.queries.items():
                ops.append(Op(qname, "query",
                              lambda sql=sql, state=state: state["con"].sql(sql),
                              lambda qname=qname, want=want: want[qname], j))
            if self.wl.queries_in_journey:
                for qname in self.wl.queries:
                    op = self.registry_op(qname, cache)
                    op.journey = j
                    ops.append(op)
            journeys.append(ops)
        return journeys

    # -- execution --------------------------------------------------------
    def run_op(self, op: Op) -> dict:
        from perfbench import oracle
        self.seq += 1
        group = f"perfbench-op{self.seq}"
        rec = {"seq": self.seq, "op": op.name, "kind": op.kind, "pass": self.pass_no,
               "journey": op.journey, "traced": self.traced, "status": "ok"}
        tracer = self.tracer
        tracer.op, tracer.enabled = group, self.traced
        self.sc.setJobGroup(group, op.name)
        timer = threading.Timer(OP_TIMEOUT_S, self.sc.cancelJobGroup, [group])
        timer.start()
        t0 = time.perf_counter()
        try:
            with tracer.span("op", query=op.name) as op_span:
                t0 = time.perf_counter()
                with tracer.span("queries.build"):
                    df = op.build()
                t1 = time.perf_counter()
                build_jobs = (len(self.sc.statusTracker().getJobIdsForGroup(group))
                              if self.traced else 0)
                rows = None
                if df is not None:
                    with tracer.span("exec.collect"):
                        rows = df.collect()
                t2 = time.perf_counter()
            tracer.enabled = False
            rec.update(latency_s=t2 - t0, build_s=t1 - t0, collect_s=t2 - t1)
            if rows is not None:
                got = oracle.summarize_spark(df, rows)
                rec.update(rows=got["rows"], hash=got["hash"])
                want = op.expected()
                if want is None:
                    rec["check"] = "rows-only"
                elif (why := oracle.mismatch(got, want)) is not None:
                    rec.update(status="mismatch", error_class="OracleMismatch",
                               error=why)
            if self.traced:
                from perfbench import trace as T
                rec["layers"] = {
                    "queries.build_s": t1 - t0, "exec.collect_s": t2 - t1,
                    **T.spark_counters(self.spark, df, group, build_jobs, tracer,
                                       op_span["id"]),
                    **T.span_layers(tracer.op_spans(group))}
        except Exception as e:  # noqa: BLE001 - every failure is recorded
            timed_out = not timer.is_alive() and time.perf_counter() - t0 >= OP_TIMEOUT_S
            rec.update(status="timeout" if timed_out else "error",
                       error_class=error_class(e),
                       error=str(e).strip().splitlines()[0][:300] if str(e).strip() else "")
        finally:
            timer.cancel()
            tracer.enabled = False
        if rec["status"] != "ok":
            for k in ("latency_s", "build_s", "collect_s", "layers"):
                rec.pop(k, None)
            log(f"[perfbench] FAIL {op.name} ({rec['status']}, "
                f"{rec['error_class']}): {rec.get('error', '')[:200]}")
        self.records.append(rec)
        return rec

    def run_pass(self, units: list[list[Op]], shuffle: bool = True) -> float:
        order = list(units)
        if shuffle:
            self.rng.shuffle(order)
        t = time.perf_counter()
        for i, unit in enumerate(order):
            # traced runs trace every other unit, flipping each pass, so
            # both halves see the same warm-up and each unit is traced
            # once every two passes
            self.traced = self.trace_passes and (i + self.pass_no) % 2 == 1
            for op in unit:
                if time.monotonic() - self.t_start > self.wl.budget_s:
                    raise TimeoutError("run budget exhausted")
                self.run_op(op)
        return time.perf_counter() - t


def layer_metrics(runner: Runner, setup: dict) -> dict:
    traced = [r for r in runner.records if r.get("traced") and r["status"] == "ok"
              and "layers" in r]
    out = {"session.build_s": setup["session.build_s"],
           "queries.load_all_s": setup["queries.load_all_s"]}
    for k in _PER_OP_MEANS:
        vals = [r["layers"].get(k, 0) for r in traced]
        out[k] = statistics.fmean(vals) if vals else 0.0
    tot = lambda k: sum(r["layers"].get(k, 0) for r in traced)  # noqa: E731
    out["connection.analyses"] = (tot("connection.spark_sql_in_door")
                                  / tot("connection.sql_calls")
                                  if tot("connection.sql_calls") else 0.0)
    out["sqlrewrite.fired_ratio"] = (tot("sqlrewrite.fired") / tot("sqlrewrite.attempts")
                                     if tot("sqlrewrite.attempts") else 0.0)
    out["connection.stmt_s"] = (tot("connection.stmt_s") / tot("connection.stmts")
                                if tot("connection.stmts") else 0.0)
    # plan fingerprint: exact counts summed over the distinct ops, from
    # each op's last traced run
    last: dict = {}
    for r in traced:
        last[(r["journey"], r["op"])] = r["layers"]
    for k in PER_LAYER_UNITS:
        if k.startswith("plan."):
            out[k] = sum(v.get(k, 0) for v in last.values())
    # tracing overhead: per-op latency, traced minus untraced
    diffs = []
    ok = [r for r in runner.records if r["status"] == "ok" and r["pass"] > 0]
    for key in {(r["journey"], r["op"]) for r in ok}:
        a = [r["latency_s"] for r in ok if (r["journey"], r["op"]) == key and r["traced"]]
        b = [r["latency_s"] for r in ok if (r["journey"], r["op"]) == key
             and not r["traced"]]
        if a and b:
            diffs.append(statistics.fmean(a) - statistics.fmean(b))
    out["trace.overhead_s"] = statistics.fmean(diffs) if diffs else 0.0
    return out


def stop_spark(spark) -> None:
    """Stops the SparkContext and the JVM, and waits for both."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:  # noqa: BLE001
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    args = parse_args(argv)
    if not (ROOT / "lingo_db_spark" / "__init__.py").is_file():
        log(f"[perfbench] no engine sources under {ROOT}: lingo_db_spark is missing")
        return 2
    from perfbench.workloads import WORKLOADS
    wl = WORKLOADS[args.workload]
    prepare_env()
    from perfbench.host import HostSampler, cpu_probe, wait_for_children
    from perfbench import oracle
    data_dir = ensure_data(wl)
    sampler = HostSampler()
    sampler.start()
    probes = [cpu_probe()]

    report: dict = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "sf": wl.sf, "files": wl.files,
                    "cores": int(os.environ["SPARK_GRAFT_CPUS"])}
    from perfbench import trace as T
    tracer = T.Tracer()
    spark = runner = None
    fatal = None
    try:
        window = sampler.window()
        spark, registry, setup = set_up(data_dir)
        setup_peak_rss = sampler.peak_rss
        report.update(setup=setup, setup_noise=sampler.noise(window))
        report["unavailable"] = {
            n: "needs the reference source tree, which is not in the repository"
            for n in sorted(registry) if n.endswith("_verbatim")}

        from lingo_db_spark.catalog import TABLE_NAMES
        cache = oracle.ExpectedCache(data_dir, TABLE_NAMES)
        if args.trace:
            T.install(tracer, spark)
        runner = Runner(spark, registry, wl, data_dir, args.seed, tracer)
        units = ([] if wl.queries_in_journey
                 else [[runner.registry_op(n, cache)] for n in wl.queries])
        if wl.door:
            units += runner.door_ops(cache)
        for unit in units:          # oracle answers before any timing
            for op in unit:
                if op.journey in (None, 0):
                    op.expected()
        cache.close()
        # peak RSS from here on covers the engine, not the DuckDB oracle
        sampler.peak_rss = 0

        window = sampler.window()
        runner.t_start = time.monotonic()
        # the cold pass runs in workload order, so its cost does not
        # depend on which op happens to pay the first-query warm-up
        first_pass_s = runner.run_pass(units, shuffle=False)
        report["first_pass_noise"] = sampler.noise(window)

        window = sampler.window()
        timed_wall = 0.0
        min_passes = max(wl.min_passes, 2) if args.trace else wl.min_passes
        runner.trace_passes = bool(args.trace)
        while runner.pass_no < min_passes or timed_wall < args.seconds:
            runner.pass_no += 1
            timed_wall += runner.run_pass(units)
        report["timed_noise"] = sampler.noise(window)
        probes.append(cpu_probe())
    except Exception as e:  # noqa: BLE001 - reported, and no result printed
        fatal = f"{error_class(e)}: {e}"
        log("[perfbench] run aborted: " + fatal)
        traceback.print_exc(file=sys.stderr)
    finally:
        if spark is not None:
            stop_spark(spark)
        sampler.stop()
        killed = wait_for_children()

    if runner is None:
        return 1
    recs = runner.records
    failed = [r for r in recs if r["status"] != "ok"]
    timed_ok = [r for r in recs if r["pass"] > 0 and r["status"] == "ok"
                and r["kind"] == "query" and not r["traced"]]
    lat = [r["latency_s"] for r in timed_ok]
    report.update(passes=runner.pass_no, fatal=fatal, killed_children=killed,
                  host_probe_s=probes,
                  failures=[{k: r.get(k) for k in ("op", "journey", "pass", "status",
                                                   "error_class", "error")}
                            for r in failed],
                  records=recs)
    ok = fatal is None and bool(lat)
    metrics: dict = {}
    if ok:
        # a traced run has no untraced stream wall: its qps counts op
        # latencies only, and it prints per-layer metrics anyway
        qps_wall = (timed_wall if not args.trace
                    else sum(r["latency_s"] for r in timed_ok))
        e2e = {
            "setup_s": setup["setup_s"],
            "first_pass_s": first_pass_s,
            "query_p50_s": statistics.median(lat),
            "query_tail_s": nearest_rank(lat, wl.tail_pct),
            "qps": len(timed_ok) / qps_wall,
            "peak_rss_mb": max(setup_peak_rss, sampler.peak_rss) / 2 ** 20,
        }
        report["tail_pct"] = wl.tail_pct
        report["query_samples"] = len(lat)
        report["tail_samples_beyond"] = len(lat) - math.ceil(wl.tail_pct / 100 * len(lat))
        stmts = [s for p, s in runner.stmt_samples if p > 0]
        if stmts:
            e2e["stmt_p50_s"] = statistics.median(stmts)
        report["end_to_end"] = e2e
        report["error_rate"] = len(failed) / max(1, len(recs))
        if args.trace:
            report["per_layer"] = layer_metrics(runner, setup)
            report["spans"] = tracer.spans
            metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]}
                       for k, v in report["per_layer"].items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                       for k, v in e2e.items()}
    OUT.mkdir(parents=True, exist_ok=True)
    path = OUT / f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
    path.write_text(json.dumps(report, indent=1, default=str))
    summarize_to_stderr(report, path)
    if not ok:
        return 1
    print(json.dumps({"correct": not failed, "attempted": len(recs),
                      "failed": len(failed), "metrics": metrics}), flush=True)
    return 0


def summarize_to_stderr(report: dict, path: Path) -> None:
    log(f"[perfbench] {report['workload']} seed={report['seed']} "
        f"cores={report['cores']} passes={report.get('passes')} report={path}")
    for k, v in report.get("end_to_end", {}).items():
        unit = END_TO_END_UNITS[k]
        suffix = {"query_p50_s": f" (n={report.get('query_samples')})",
                  "query_tail_s": f" (p{report.get('tail_pct', 0):g}, "
                                  f"{report.get('tail_samples_beyond')} beyond)"}.get(k, "")
        log(f"  {k:<14} {v:10.4f} {unit}{suffix}")
    log(f"  error_rate     {report.get('error_rate', float('nan')):10.4f} ratio")
    for k in ("first_pass_noise", "timed_noise", "host_probe_s"):
        if k in report:
            log(f"  {k}: {report[k]}")
    for f in report.get("failures", []):
        log(f"  FAILED {f['op']} journey={f['journey']} pass={f['pass']} "
            f"{f['status']} {f['error_class']}")
    if report.get("unavailable"):
        log(f"  unavailable (not timed): {', '.join(report['unavailable'])}")


if __name__ == "__main__":
    sys.exit(main())
