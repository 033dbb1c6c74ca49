#!/usr/bin/env python3
"""Count code lines per Scala file under src/main/scala.

A code line is a line that still holds non-blank text once comments are
removed: lines that are only a `//` comment, lines inside a `/* ... */`
block (Scala block comments nest) and blank lines do not count. String
literals are skipped while scanning, so a "/*" inside a string is text.

Usage:
  python3 tools/loc.py                 # per-file counts and the total
  python3 tools/loc.py --base <rev>    # also the counts at <rev> and the diff
  python3 tools/loc.py --root <dir>    # count another tree (default src/main/scala)
"""
import argparse
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def code_lines(text):
    """Number of lines of `text` that carry code outside comments."""
    n = 0
    depth = 0          # block-comment nesting depth
    in_str = None      # None, '"' or '"""'
    for line in text.splitlines():
        code = False
        i = 0
        while i < len(line):
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
                continue
            if in_str:
                code = True
                if in_str == '"' and line[i] == "\\":
                    i += 2
                elif line.startswith(in_str, i):
                    i += len(in_str)
                    in_str = None
                else:
                    i += 1
                continue
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth += 1
                i += 2
                continue
            c = line[i]
            if line.startswith('"""', i):
                in_str = '"""'
                i += 3
                code = True
                continue
            if c == '"':
                in_str = '"'
                i += 1
                code = True
                continue
            if c == "'" and i + 2 < len(line) and line[i + 2] == "'":
                # a char literal such as '"' or '/'
                i += 3
                code = True
                continue
            if not c.isspace():
                code = True
            i += 1
        if in_str == '"':
            in_str = None  # single-line strings never span lines
        if code:
            n += 1
    return n


def counts_at(rev, root):
    """{path: code lines} for every .scala file under `root` at git `rev`
    (the working tree when `rev` is None)."""
    out = {}
    if rev is None:
        base = os.path.join(REPO, root)
        for d, _, files in os.walk(base):
            for f in files:
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    with open(p, encoding="utf-8") as fh:
                        out[os.path.relpath(p, REPO)] = code_lines(fh.read())
        return out
    names = subprocess.run(
        ["git", "-C", REPO, "ls-tree", "-r", "--name-only", rev, "--", root],
        check=True, capture_output=True, text=True).stdout.split()
    for p in names:
        if p.endswith(".scala"):
            text = subprocess.run(
                ["git", "-C", REPO, "show", f"{rev}:{p}"],
                check=True, capture_output=True, text=True).stdout
            out[p] = code_lines(text)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", help="git revision to diff against")
    ap.add_argument("--root", default="src/main/scala",
                    help="directory to count, relative to the repo root")
    a = ap.parse_args()
    now = counts_at(None, a.root)
    if a.base is None:
        for p in sorted(now):
            print(f"{now[p]:7d}  {p}")
        print(f"{sum(now.values()):7d}  total")
        return 0
    was = counts_at(a.base, a.root)
    print(f"{'base':>7} {'now':>7} {'diff':>7}  file")
    for p in sorted(set(now) | set(was)):
        b, c = was.get(p, 0), now.get(p, 0)
        if b != c:
            print(f"{b:7d} {c:7d} {c - b:+7d}  {p}")
    b, c = sum(was.values()), sum(now.values())
    print(f"{b:7d} {c:7d} {c - b:+7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
