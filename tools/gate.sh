#!/usr/bin/env bash
# Full correctness gate — the exact sequence verified green in round 1.
# Usage: bash tools/gate.sh          (~10 min)
#        bash tools/gate.sh quick    (skip bench + sf0.001, ~6 min)
set -euo pipefail
cd "$(dirname "$0")/.."
REPO="$PWD"

echo "== pytest =="
python -m pytest tests/ -q

echo "== benchmark self-tests =="
python -m pytest perfbench/tests -q

echo "== oracle sweep, vanilla session from /tmp (driver parity) =="
(cd /tmp && SPARK_GRAFT_VANILLA=1 python "$REPO/tools/check_oracles.py" /root/testdata/sf0.01)

if [ "${1:-}" != "quick" ]; then
  echo "== oracle sweep sf0.001 =="
  python tools/check_oracles.py /root/testdata/sf0.001
  echo "== bench smoke =="
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python bench.py
fi
echo "GATE GREEN"
