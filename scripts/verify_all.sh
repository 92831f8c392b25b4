#!/usr/bin/env bash
# One-shot verification: the full local replica of the driver's gates.
#   1. pytest           — unit/round-trip/streaming/plan-contract suites
#   2. check_oracles    — every declared query vs its DuckDB oracle (sf0.01)
#   3. layout sweep     — same, with shuffle partitions perturbed to 7
#   4. bench            — headline timings at sf0.1 (one JSON line)
# Usage: bash scripts/verify_all.sh   (from the repo root; ~15 min total)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "=== 1/4 pytest ==="
python -m pytest tests/ -q

echo "=== 2/4 oracle sweep (sf0.01, default partitions) ==="
python scripts/check_oracles.py /root/testdata/sf0.01 2>&1 | tail -3

echo "=== 3/4 oracle sweep (partitions=7 — layout independence) ==="
CHECK_ORACLES_PARTS=7 python scripts/check_oracles.py /root/testdata/sf0.01 2>&1 | tail -3

echo "=== 4/4 bench (sf0.1) ==="
python bench.py 2>/dev/null | grep -E '^\{'
