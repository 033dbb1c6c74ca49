#!/bin/bash
# Local dev loop: run graft.Verify through tools/run_main.sh.
# Usage: tools/run_verify.sh [sfDir] [outDir] [query,query,...]
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.001}
OUT=${2:-/tmp/verify_out}
rm -rf "$OUT"
exec tools/run_main.sh graft.Verify "$SF" "$OUT" ${3:+"$3"}
