#!/usr/bin/env bash
# Land-with-suite gate. Run before ANY commit that touches src/.
#
#   tools/preflight.sh [query1,query2,...] [parent_dump_dir]
#
# 1. The whole suite must be green, run the way the Tier-1 check runs it
#    (ROADMAP.md): `testOnly *` with SPARK_GRAFT_CPUS = the core count, a
#    driver heap of half the machine's memory clamped to 2..8 GB, and
#    SPARK_LOCAL_DIRS=/tmp/spark-local.
# 2. If query names are given (comma-separated), Verify dumps exactly those
#    at sf0.01 and must exit 0 — catching analysis/runtime errors that a
#    unit test without an EntrySpec smoke entry would miss. An empty first
#    argument ("") dumps every query.
# 3. If a parent dump directory is given (a Verify dump of the parent
#    commit over the same queries), the new dump must match it under
#    `tools/compare.py --dumps`: the result-identity check of a refactor.
# 4. If every query was dumped and python3 can import duckdb, the dump must
#    also pass the DuckDB oracle compare (`tools/compare.py <sf> <dump>`)
#    with no FAIL line. Otherwise one "SKIP oracle" line says why not.
#
# Exit 0 = safe to commit. Nonzero = do NOT commit; fix first.
set -euo pipefail
cd "$(dirname "$0")/.."

queries="${1:-}"
parent="${2:-}"
if [[ -n "$parent" && ! -d "$parent" ]]; then
  echo "[preflight] FAIL: parent dump $parent is not a directory"
  exit 1
fi

export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null \
  || echo 2g)"
export SPARK_LOCAL_DIRS=/tmp/spark-local

echo "[preflight] sbt testOnly * (cpus $SPARK_GRAFT_CPUS, heap $SPARK_DRIVER_MEM) ..."
if ! sbt --batch "testOnly *" > /tmp/preflight_test.log 2>&1; then
  tail -40 /tmp/preflight_test.log
  echo "[preflight] FAIL: sbt test red (full log: /tmp/preflight_test.log)"
  exit 1
fi
grep -E "Tests: succeeded|All tests passed" /tmp/preflight_test.log | tail -2

if [[ $# -ge 1 ]]; then
  out="$(mktemp -d /tmp/preflight_verify.XXXX)"
  echo "[preflight] Verify on: ${queries:-all queries} -> $out"
  only=()
  [[ -n "$queries" ]] && only=(SPARK_GRAFT_ONLY="$queries")
  if ! env "${only[@]}" sbt -batch \
      "runMain graft.Verify /root/testdata/sf0.01 $out" \
      > /tmp/preflight_verify.log 2>&1; then
    tail -40 /tmp/preflight_verify.log
    echo "[preflight] FAIL: Verify red (full log: /tmp/preflight_verify.log)"
    exit 1
  fi
  if compgen -G "$out/*/QUERY_FAILED.txt" > /dev/null; then
    cat "$out"/*/QUERY_FAILED.txt
    echo "[preflight] FAIL: query failure markers present"
    exit 1
  fi
  if [[ -n "$parent" ]]; then
    echo "[preflight] compare.py --dumps $parent $out"
    if ! python3 tools/compare.py --dumps "$parent" "$out" \
        > /tmp/preflight_compare.log 2>&1; then
      grep -v "^PASS" /tmp/preflight_compare.log | tail -40
      echo "[preflight] FAIL: results differ from the parent dump" \
        "(full log: /tmp/preflight_compare.log)"
      exit 1
    fi
    tail -1 /tmp/preflight_compare.log
  fi
  if [[ -n "$queries" ]]; then
    echo "[preflight] SKIP oracle: only the named queries were dumped"
  elif ! python3 -c "import duckdb" 2> /dev/null; then
    echo "[preflight] SKIP oracle: python3 cannot import duckdb"
  else
    echo "[preflight] compare.py (DuckDB oracle) on $out"
    if ! python3 tools/compare.py /root/testdata/sf0.01 "$out" \
        > /tmp/preflight_oracle.log 2>&1 ||
        grep -q "^FAIL" /tmp/preflight_oracle.log; then
      grep -v "^PASS" /tmp/preflight_oracle.log | tail -40
      echo "[preflight] FAIL: oracle compare" \
        "(full log: /tmp/preflight_oracle.log)"
      exit 1
    fi
    tail -1 /tmp/preflight_oracle.log
  fi
else
  echo "[preflight] SKIP oracle: no Verify dump was asked for"
fi
echo "[preflight] OK"
