#!/usr/bin/env python3
"""Run one workload of the CDC history-warehouse benchmark.

    python3 cdcbench/run.py --workload ingest_micro --seed 1 --seconds 10 --trace 0

Run it from the root of the repository. On first use it compiles the engine
(src/main/scala) together with the benchmark (cdcbench/src/main/scala) with
the Scala compiler that ships in Spark's jars, into .bench_build/cdcbench/;
later runs reuse the classes while the sources are unchanged. The workload
runs in one JVM on local[min(4, cores)]; the last line of standard output is
the result object {"correct", "attempted", "failed", "metrics"}, preceded by
one {"context": ...} line. The JVM's log goes to .bench_build/cdcbench/logs/.

Extra option: --scale tiny runs the workload on small inputs (self-test).
Exit codes: 0 ok, 1 a correctness gate or an op failed, 2 cannot build or
run (for example, the engine's sources are missing).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = Path(__file__).resolve().parent / "src" / "main" / "scala"
OUT = ROOT / ".bench_build" / "cdcbench"
def spark_home():
    """$SPARK_HOME, else the installation whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    return Path(submit).resolve().parent.parent if submit else Path("spark-home-not-found")


JARS = spark_home() / "jars"
WORKLOADS = ("ingest_micro", "ingest_bulk", "history_reads")
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def die(msg):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    if not ENGINE_SRC.is_dir():
        die(f"engine sources not found at {ENGINE_SRC} (run from the repository root)")
    if not list(JARS.glob("spark-core_*.jar")):
        die(f"Spark jars not found under {JARS} (set SPARK_HOME)")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        die("no Scala sources found")
    return files


def build():
    """Compile engine + benchmark once per source state; return the classes dir.
    A lock keeps concurrent runs in one checkout from compiling twice."""
    files = sources()
    OUT.mkdir(parents=True, exist_ok=True)
    with open(OUT / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return compile_if_changed(files)


def compile_if_changed(files):
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp = digest.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "classes.stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{JARS}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(f) for f in files]
    print(f"cdcbench: compiling {len(files)} Scala files", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    a = ap.parse_args()

    classes = build()
    tmpdir = OUT / "tmp"
    logs = OUT / "logs"
    tmpdir.mkdir(parents=True, exist_ok=True)
    logs.mkdir(parents=True, exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           ["-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=256m", f"-Djava.io.tmpdir={tmpdir}",
            "-cp", f"{classes}:{JARS}/*", "cdcbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--scale", a.scale, "--out", str(OUT)])
    log = logs / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    with open(log, "w") as err:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err,
                               text=True, timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"run exceeded {RUN_TIMEOUT_S} s (log: {log})")
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        die(f"no result line (exit {r.returncode}; log: {log})")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    if r.returncode != 0 or not result["correct"]:
        ctx = next((json.loads(l)["context"] for l in lines if l.startswith('{"context"')), {})
        for e in ctx.get("gate_errors", []) + ctx.get("untraced_pass", {}).get("errors", []):
            print(f"cdcbench: FAILED: {e}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
