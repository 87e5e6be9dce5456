#!/usr/bin/env bash
# Pre-commit gate — the exact sequence CLAUDE.md mandates before every
# commit (mirrors the driver's t2 gate + test suite). Usage:
#   scripts/gate.sh [sfDir]        # default /root/testdata/sf0.01
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
OUT="$(mktemp -d /tmp/gate.XXXXXX)"

echo "== sbt compile =="
sbt -batch compile
echo "== sbt test =="
sbt -batch test
echo "== perfbench arithmetic tests =="
PYTHONDONTWRITEBYTECODE=1 python3 -m unittest discover -s perfbench -p 'test_*.py'
echo "== Verify + DuckDB oracle ($SF) =="
sbt -batch "runMain graft.Verify $SF $OUT" 2>/dev/null | tail -1
python3 scripts/check.py "$SF" "$OUT"
echo "== gate PASSED =="
