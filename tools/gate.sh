#!/bin/bash
# Oracle gate: compile once, then at each verification scale factor run
# graft.Verify on the compiled classes (tools/run_local.sh) and compare
# every query's result with its DuckDB oracle (tools/check_oracle.py).
#
#   tools/gate.sh <data-root>
#
# <data-root> holds the sf0.001/ and sf0.01/ table directories (see
# TESTDATA.md). For each SF it writes probes/gate/<short-sha>_sf<sf>.log,
# headed by the commit, SF and CPU count and ending in check_oracle's
# "N pass, M fail, T total" line. Exits non-zero if any query FAILs or
# MISSes, or if Verify reports a query that threw.
set -u
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
DATA="${1:?usage: tools/gate.sh <data-root>}"
cd "$ROOT"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"

sbt -batch -Dsbt.log.noformat=true compile > /dev/null || { echo "compile failed" >&2; exit 2; }

sha="$(git rev-parse --short HEAD)"
mkdir -p probes/gate
status=0
for sf in 0.001 0.01; do
  log="probes/gate/${sha}_sf${sf}.log"
  out="$(mktemp -d)"
  {
    echo "commit: $(git rev-parse HEAD)"
    dirty="$(git status --porcelain --untracked-files=no | awk '{print $2}' | tr '\n' ' ')"
    [ -n "$dirty" ] && echo "uncommitted: $dirty"
    echo "sf: $sf"
    echo "cpus: $SPARK_GRAFT_CPUS"
    echo "date: $(date -u +%Y-%m-%dT%H:%M:%SZ)"
  } > "$log"
  tools/run_local.sh graft.Verify "$DATA/sf$sf" "$out" 2>&1 | grep '^\[verify\]' >> "$log"
  threw="$(grep -c '"ok":false' "$out/verify_status.jsonl" 2>/dev/null)"
  echo "verify: $(grep -c '"ok":true' "$out/verify_status.jsonl" 2>/dev/null) ok, ${threw:-0} threw" >> "$log"
  python3 tools/check_oracle.py "$DATA/sf$sf" "$out" >> "$log" 2>&1
  if [ "${threw:-0}" != 0 ] || grep -q '^\(FAIL\|MISS\)' "$log" || ! tail -1 "$log" | grep -q ' 0 fail'; then
    status=1
  fi
  echo "sf$sf: $(tail -1 "$log")  ($log)"
  rm -rf "$out"
done
exit $status
