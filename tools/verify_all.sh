#!/usr/bin/env bash
# One-command local replica of the driver's correctness gate:
#   the Python unit tests of the benchmark, gate_check and perfbench_ab
#   -> sbt Verify (every SparkEntry query, end-to-end) at sf0.01
#   -> tools/oracle_check.py   (DuckDB value/schema/rowcount compare)
#   -> tools/hugeint_audit.py  (oracle output-type sweep: no HUGEINT/
#      DECIMAL may reach a final column — the ext24 hash-flake class)
# Catches a red row at commit time instead of at round end.
#
# Usage: tools/verify_all.sh [sfDir] [outDir] [namesCsv]
#   tools/verify_all.sh                       # full suite at sf0.01
#   tools/verify_all.sh /root/testdata/sf0.1  # full suite at sf0.1
#   tools/verify_all.sh /root/testdata/sf0.01 /tmp/v q64_arg_extremes,ext24_sequence_packing
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="${2:-/tmp/graft-verify-$(basename "$SF_DIR")}"
ONLY="${3:-}"

python3 -m unittest discover -s perfbench -p 'test_*.py'
python3 tools/test_gate_check.py
python3 tools/test_perfbench_ab.py

rm -rf "$OUT_DIR"
sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR $ONLY" 2>&1 \
  | grep -E "\[verify\]|error\]" | grep -viE "INFO|WARN" | tail -20 || true

python3 tools/oracle_check.py "$SF_DIR" "$OUT_DIR"
python3 tools/hugeint_audit.py "$SF_DIR" "$OUT_DIR"

# Tally derivation (r9 verdict item 6): the published counts must be
# byte-derived from THIS verify dir — full runs only, a targeted
# re-verify's dir would understate the surface.
if [ -z "$ONLY" ]; then
  python3 tools/counts.py "$OUT_DIR"
fi
