#!/usr/bin/env python3
"""Compare two checkouts on one cdcbench workload in alternating pairs.

    python3 tools/bench_pairs.py --parent ../parent --change . \
        --workload ingest_micro --seeds 1,2,3,4,5 [--pairs 10] [--seconds 15] [--trace 0]

Each pair runs `python3 cdcbench/run.py` once in each checkout, from that
checkout's root, with the same seed; the side that goes first alternates
from pair to pair, so a slow drift of the host's load does not land on one
side only. Pair i uses seed seeds[i % len(seeds)]. /proc/loadavg is recorded
before every run.

For every metric both sides print, the report gives each side's median and
quartiles (Python's statistics.quantiles, inclusive method), the share of
pairs the change wins (strictly better, in the direction the change's
BENCHMARK.json declares; per-layer metrics of a traced run use their
declared direction too), and whether the claim rule holds: the change wins
at least nine tenths of the pairs run and its median is better than the
parent's by more than the parent's interquartile range. For a metric with
a declared bound it also prints the regression check: "worse" when the
change's median is worse than the parent's by more than the bound,
"unresolved" when either side's spread (IQR / median) exceeds the bound
and not every change run beats every parent run, else "within". A run that
fails (nonzero exit, no result line, or "correct": false) is reported and
its pair is left out of the statistics but not out of the win base.

--out writes every run (side, pair, seed, load, result, context) as JSON.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_one(checkout, workload, seed, seconds, trace):
    load = Path("/proc/loadavg").read_text().split()[:3]
    cmd = [sys.executable, "cdcbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    result, context = None, None
    for line in r.stdout.splitlines():
        if line.startswith('{"correct"'):
            result = json.loads(line)
        elif line.startswith('{"context"'):
            context = json.loads(line)["context"]
    ok = r.returncode == 0 and result is not None and result["correct"]
    return {"load": [float(x) for x in load], "exit": r.returncode, "ok": ok,
            "result": result, "context": context,
            "stderr_tail": r.stderr[-2000:] if not ok else ""}


def declared(checkout):
    """metric name -> (better, bound or None), from the checkout's BENCHMARK.json."""
    spec = json.loads((Path(checkout) / "BENCHMARK.json").read_text())
    return {m["name"]: (m["better"], m.get("bound"))
            for m in spec["end_to_end"] + spec["per_layer"]}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(pairs, spec):
    ok = [p for p in pairs if p["parent"]["ok"] and p["change"]["ok"]]
    print(f"pairs: {len(pairs)} run, {len(ok)} with both sides correct")
    for side in ("parent", "change"):
        att = sum((p[side]["result"] or {}).get("attempted", 0) for p in pairs)
        fail = sum((p[side]["result"] or {}).get("failed", 0) for p in pairs)
        bad = sum(not p[side]["ok"] for p in pairs)
        print(f"{side}: attempted {att}, failed {fail}, failed runs {bad}")
    if not ok:
        return
    names = [n for n in ok[0]["change"]["result"]["metrics"]
             if all(n in p[s]["result"]["metrics"] for p in ok for s in ("parent", "change"))]
    print(f"{'metric':42} {'parent q1/med/q3':>32} {'change q1/med/q3':>32} "
          f"{'wins':>6} {'gap':>10} {'IQR':>10}  {'claim':6} bound check")
    for n in names:
        a = [p["parent"]["result"]["metrics"][n]["value"] for p in ok]
        b = [p["change"]["result"]["metrics"][n]["value"] for p in ok]
        better, bound = spec.get(n, ("lower", None))
        lower = better == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        aq, bq = quartiles(a), quartiles(b)
        gap = (aq[1] - bq[1]) if lower else (bq[1] - aq[1])
        iqr = aq[2] - aq[0]
        # ties and failed pairs count for neither side: the base is every pair run
        claim = "HOLDS" if wins >= 0.9 * len(pairs) and gap > iqr else "-"
        check = ""
        if bound is not None and aq[1]:
            worse = -gap / abs(aq[1])
            spread = max((q[2] - q[0]) / abs(q[1]) if q[1] else 0.0 for q in (aq, bq))
            all_better = all((y < x) if lower else (y > x) for x in a for y in b)
            check = (f"{bound:g} " + ("worse" if worse > bound else
                     "unresolved" if spread > bound and not all_better else "within") +
                     f" ({worse:+.1%}, spread {spread:.1%})")
        fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
        print(f"{n:42} {fmt(aq):>32} {fmt(bq):>32} {wins:>3}/{len(pairs):<2} "
              f"{gap:>10.4g} {iqr:>10.4g}  {claim:6} {check}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated seeds")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write every run as JSON here")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",") if s.strip()]
    sides = {"parent": a.parent, "change": a.change}
    pairs = []
    for i in range(a.pairs):
        seed = seeds[i % len(seeds)]
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"pair": i, "seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_one(sides[side], a.workload, seed, a.seconds, a.trace)
            r = pair[side]
            print(f"pair {i} seed {seed} {side}: load {r['load']} "
                  f"{'ok' if r['ok'] else 'FAILED (exit %d)' % r['exit']}", flush=True)
        pairs.append(pair)
    if a.out:
        Path(a.out).write_text(json.dumps(pairs, indent=1))
    report(pairs, declared(a.change))


if __name__ == "__main__":
    main()
