#!/usr/bin/env python3
"""Count the processes one cdcbench run forks, per command.

    python3 tools/forks.py [--checkout .] [--workload ingest_micro] [--seed 3] [--seconds 15]

Runs `python3 cdcbench/run.py --trace 0` once in the checkout, with a
logging shim put first on the child's PATH: a temp dir holding one small
script per watched command (chmod, readlink, stat, ls, ...) that appends
a timestamp and its name to a log, then execs the real command. Only the
child's environment changes; nothing is traced and no machine setting is
touched. Commands started by absolute path are not seen.

The report splits the forks at the measured pass's first batch commit:
the first moment a store of the run publishes a version after its seed
(its `_CURRENT` names version 2 or later), found by polling the run's
work dir. "start-up" is everything before it (JVM, session, staging,
seed publishes, warm-up); "steady state" is everything after it, which
for ingest_micro also includes the end-of-run correctness gate.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time
from collections import Counter
from pathlib import Path

WATCHED = ["chmod", "chown", "readlink", "stat", "ls", "df", "du", "id",
           "groups", "whoami", "uname", "hostname", "getent", "bash", "mkdir",
           "ln", "rm", "mv", "cp", "touch"]


def make_shim(bindir, log):
    for name in WATCHED:
        real = shutil.which(name)
        if real is None:
            continue
        p = Path(bindir) / name
        p.write_text(f'#!/bin/sh\necho "$(/bin/date +%s.%N) {name}" >> "{log}"\n'
                     f'exec "{real}" "$@"\n')
        p.chmod(0o755)


def first_commit_watcher(work, found, stop):
    """Record the time a store under `work` first names version >= 2."""
    while not stop.is_set() and "t" not in found:
        for cur in work.glob("*/store_*/_CURRENT"):
            try:
                v = int(cur.read_text().splitlines()[0])
            except (OSError, ValueError, IndexError):
                continue
            if v >= 2:
                found["t"] = time.time()
                return
        time.sleep(0.02)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--checkout", default=".")
    ap.add_argument("--workload", default="ingest_micro")
    ap.add_argument("--seed", type=int, default=3)
    ap.add_argument("--seconds", type=int, default=15)
    a = ap.parse_args()
    checkout = Path(a.checkout).resolve()
    with tempfile.TemporaryDirectory(prefix="forks-") as tmp:
        bindir = Path(tmp) / "bin"
        bindir.mkdir()
        log = Path(tmp) / "forks.log"
        log.touch()
        make_shim(bindir, log)
        env = dict(os.environ, PATH=f"{bindir}:{os.environ.get('PATH', '')}")
        found, stop = {}, threading.Event()
        watcher = threading.Thread(target=first_commit_watcher, daemon=True,
                                   args=(checkout / ".bench_build" / "cdcbench" / "work",
                                         found, stop))
        watcher.start()
        cmd = [sys.executable, "cdcbench/run.py", "--workload", a.workload,
               "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", "0"]
        r = subprocess.run(cmd, cwd=checkout, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, text=True)
        stop.set()
        watcher.join()
        forks = []
        for line in log.read_text().splitlines():
            t, name = line.split(" ", 1)
            forks.append((float(t), name))
    result, context = None, {}
    for line in r.stdout.splitlines():
        if line.startswith('{"correct"'):
            result = json.loads(line)
        elif line.startswith('{"context"'):
            context = json.loads(line)["context"]
    if result is None:
        sys.stderr.write(r.stderr[-2000:])
        sys.exit(f"forks: the run printed no result (exit {r.returncode})")
    split = found.get("t", float("inf"))
    before = Counter(n for t, n in forks if t < split)
    after = Counter(n for t, n in forks if t >= split)
    batches = context.get("untraced_pass", {}).get("files_applied", 0)
    print(f"workload {a.workload}, seed {a.seed}, {a.seconds} s: correct={result['correct']}, "
          f"{batches} batches applied in the measured pass")
    if "t" not in found:
        print("no batch commit seen: every fork counts as start-up")
    print(f"{'command':<10} {'start-up':>9} {'steady':>7} {'per batch':>10}")
    for name in sorted(set(before) | set(after)):
        per = after[name] / batches if batches else 0.0
        print(f"{name:<10} {before[name]:>9} {after[name]:>7} {per:>10.1f}")
    print(f"{'total':<10} {sum(before.values()):>9} {sum(after.values()):>7}")


if __name__ == "__main__":
    main()
