#!/usr/bin/env bash
# Full local gate, mirroring what the round driver does:
#   1. pytest (oracle compare at sf0.001 by default)
#   2. driver-sim: vanilla session + all queries vs DuckDB at sf0.01
#   3. contract sweep at sf0.1 (scale-dependent oracle drift)
#   4. bench at sf0.1 (one JSON line)
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
cd "$REPO"

echo "== pytest =="
python -m pytest tests/ -q

echo "== driver-sim (sf0.01) =="
cd /tmp && python "$REPO/scripts/driver_sim.py"

echo "== contract sweep (sf0.1 — catches scale-dependent oracle drift) =="
cd "$REPO" && SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.1 python -m pytest tests/test_contract.py -q

echo "== bench (sf0.1) =="
cd "$REPO" && python bench.py 2>/dev/null | tail -1
