#!/usr/bin/env python3
"""Self-test of the benchmark itself, on sf0.001 data (about 1-2 min).

    python3 perfbench/selftest.py

Checks, each in a fresh process:
- an untraced run prints every end-to-end metric of BENCHMARK.json, by
  name, with its unit, and the last stdout line has exactly the keys
  correct/attempted/failed/metrics;
- the untraced run also runs door statements (CREATE TABLE, COPY,
  INSERT), so `stmt_p50_s` has samples;
- a traced run prints every per-layer metric with its unit and writes
  spans to its report;
- a forced failure (an op that raises) is counted in `failed`, makes
  `correct` false, raises error_rate, is named with its error class, and
  leaves no latency sample;
- in a directory holding only BENCHMARK.json and perfbench/, the
  benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
FORCED = "selftest_forced_failure"
QUERIES = ("tpch_q1", "tpch_q6", "sql_tpch_q3", "exists_join_syntax")


def child(case: str) -> int:
    """Runs run.main on a tiny workload, in this process."""
    sys.path.insert(0, str(ROOT))
    from perfbench import run, workloads
    queries = QUERIES + ((FORCED,) if case == "fail" else ())
    workloads.WORKLOADS["selftest"] = workloads.Workload(
        "selftest", sf=0.001, files=1, queries=queries, min_passes=2, tail_pct=50.0,
        door="tpch_own")
    registry_op = run.Runner.registry_op

    def with_forced_failure(self, name, cache):
        if name != FORCED:
            return registry_op(self, name, cache)

        def boom():
            raise RuntimeError("forced failure")
        return run.Op(name, "query", boom, lambda: None)

    run.Runner.registry_op = with_forced_failure
    return run.main(["--workload", "selftest", "--seed", "7", "--seconds", "1",
                     "--trace", "1" if case == "trace" else "0"])


def run_case(case: str) -> tuple[dict, dict]:
    p = subprocess.run([sys.executable, __file__, "--child", case], cwd=ROOT,
                       capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, f"{case}: exit {p.returncode}\n{p.stderr[-3000:]}"
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    trace = 1 if case == "trace" else 0
    report = json.loads((BENCH / ".out" / f"selftest-seed7-trace{trace}.json").read_text())
    return result, report


def check_units(result: dict, spec: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"metrics/units differ:\n got  {got}\n want {want}"
    for k, v in result["metrics"].items():
        assert set(v) == {"value", "unit"}, (k, v)
        assert isinstance(v["value"], (int, float)), (k, v)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    result, report = run_case("ok")
    check_units(result, spec["end_to_end"])
    assert result["correct"] and result["failed"] == 0, result
    assert result["attempted"] == len(report["records"]) >= 3 * len(QUERIES)
    assert {r["op"] for r in report["records"] if r["kind"] == "stmt"} >= {
        "door_script", "door_insert_0"}, "no door statements ran"
    print("ok: untraced run prints every end-to-end metric with its unit")

    result, report = run_case("trace")
    check_units(result, spec["per_layer"])
    assert report["spans"], "traced run wrote no spans"
    names = {s["name"] for s in report["spans"]}
    for n in ("op", "queries.build", "exec.collect", "spark.job",
              "catalyst.analysis", "connection.sql", "connection.stmt",
              "catalog.register_views"):
        assert n in names, f"no {n} span"
    print(f"ok: traced run prints every per-layer metric and {len(report['spans'])} spans")

    result, report = run_case("fail")
    forced = [r for r in report["records"] if r["op"] == FORCED]
    assert result["failed"] == len(forced) == 3 and not result["correct"], result
    assert report["error_rate"] == result["failed"] / result["attempted"] > 0
    assert all(r["status"] == "error" and r["error_class"] == "RuntimeError"
               and "latency_s" not in r for r in forced), forced
    assert all(f["op"] == FORCED for f in report["failures"])
    print("ok: a forced failure raises error_rate and gives no latency sample")

    (BENCH / ".cache").mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=BENCH / ".cache") as d:
        shutil.copy(ROOT / "BENCHMARK.json", d)
        shutil.copytree(BENCH, Path(d) / "perfbench",
                        ignore=shutil.ignore_patterns(".cache", ".out", "__pycache__"))
        p = subprocess.run([*spec["command"], "--workload", spec["workloads"][0]["name"],
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=d, capture_output=True, text=True, timeout=120)
        assert p.returncode != 0 and '"metrics"' not in p.stdout, p
    print("ok: without the engine sources the benchmark fails without a result")
    return 0


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--child":
        sys.exit(child(sys.argv[2]))
    sys.exit(main())
