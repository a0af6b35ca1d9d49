#!/usr/bin/env bash
# Full verification pyramid in one command (see .claude/skills/verify):
#   1. strict oracle gate at all three SFs (byte-exact vs DuckDB)
#   2. pytest: full mode runs every test, slow store suites included
#      (-m "" overrides pytest.ini's fast-profile addopts); quick runs
#      the fast profile
#   3. query record at sf0.01: regenerates PLAN_AUDIT.md from AQE final
#      plans (rc 0 = every plan final, 0 flags)
#   4. bench (one JSON line; rc must be 0)
# Usage: bash tools/run_gates.sh [quick]
#   quick = sf0.01 oracle gate + fast-profile pytest only
set -uo pipefail
cd "$(dirname "$0")/.."
rc=0

run() {
  echo "==> $*"
  if ! "$@"; then rc=1; echo "!! FAILED: $*"; fi
}

run timeout 1500 python tools/check_oracle.py --strict /root/testdata/sf0.01
if [ "${1:-}" != "quick" ]; then
  run timeout 1500 python tools/check_oracle.py --strict /root/testdata/sf0.001
  run timeout 1500 python tools/check_oracle.py --strict /root/testdata/sf0.1
fi
if [ "${1:-}" = "quick" ]; then
  run timeout 3000 python -m pytest tests/ -q
else
  # the full suite took ~1h16m (689 tests) as of r12
  run timeout 6000 python -m pytest tests/ -q -m ""
fi
if [ "${1:-}" != "quick" ]; then
  # the whole catalog took 505 s at sf0.01 on 4 cores
  run timeout 1500 python tools/query_record.py /root/testdata/sf0.01
  # bench: every query twice, each rep in a tracer span (jobs, executor
  # CPU); the whole catalog took 1,125 s at sf0.1 on 4 cores
  run timeout 1800 python bench.py
fi

echo "==> gates rc=$rc"
exit $rc
