#!/usr/bin/env python3
"""Self-test of the benchmark itself.

    python3 cdcbench/selftest.py

Run from the root of the repository. Runs every workload once at tiny scale,
untraced and traced, and asserts that each run prints every metric that
BENCHMARK.json declares for that mode, with its unit and a finite value, that
its correctness gates ran and passed, and that a traced run wrote its spans.
Then checks that the benchmark refuses to run, without printing a result, in
a directory holding only BENCHMARK.json and the benchmark's own files.
Exits non-zero on the first failed assertion.
"""
import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
RUN = [sys.executable, "cdcbench/run.py"]
WORKLOADS = ("ingest_micro", "ingest_bulk", "history_reads")


def check(cond, msg):
    if not cond:
        print(f"selftest: FAIL: {msg}", file=sys.stderr)
        sys.exit(1)


def run_once(workload, trace):
    r = subprocess.run(RUN + ["--workload", workload, "--seed", "7", "--seconds", "2",
                              "--trace", str(trace), "--scale", "tiny"],
                       stdout=subprocess.PIPE, text=True, timeout=300)
    where = f"{workload} trace={trace}"
    check(r.returncode == 0, f"{where}: exit {r.returncode}")
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    check(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{where}: result keys")
    check(result["correct"] is True and result["failed"] == 0, f"{where}: not correct")
    check(isinstance(result["attempted"], int) and result["attempted"] >= 1, f"{where}: attempted")
    declared = SPEC["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    check(list(got) == [m["name"] for m in declared],
          f"{where}: metric names differ from BENCHMARK.json: {sorted(set(got) ^ {m['name'] for m in declared})}")
    for m in declared:
        v = got[m["name"]]
        check(v["unit"] == m["unit"], f"{where}: {m['name']} unit {v['unit']} != {m['unit']}")
        check(isinstance(v["value"], (int, float)) and math.isfinite(v["value"]),
              f"{where}: {m['name']} value {v['value']}")
        if not trace:
            check(v["value"] > 0, f"{where}: {m['name']} is {v['value']}, must never be 0")
    ctx = json.loads(lines[-2])["context"]
    check(ctx["gate_checks"] > 0 and ctx["gate_errors"] == [], f"{where}: gates did not run clean")
    if trace:
        spans = json.loads(Path(ctx["trace_file"]).read_text())["spans"]
        check(len(spans) > 0, f"{where}: trace file has no spans")
    print(f"selftest: ok {where}: {len(got)} metrics, {ctx['gate_checks']} gate checks")


def refuses_without_engine():
    bare = ROOT / ".bench_build" / "selftest_bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns(".bench_build"))
    r = subprocess.run(RUN + ["--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                              "--seconds", "1", "--trace", "0"],
                       cwd=bare, stdout=subprocess.PIPE, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    check(r.returncode != 0 and not r.stdout.strip(),
          "a checkout without the engine must fail without a result")
    print("selftest: ok refuses to run without the engine sources")


if __name__ == "__main__":
    for w in WORKLOADS:
        for t in (0, 1):
            run_once(w, t)
    refuses_without_engine()
    print("selftest: all passed")
