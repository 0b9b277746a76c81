#!/bin/bash
# Round-close gate — the executable form of the protocol documented in
# PLANS.md ("Round-N bench + gate adjudication"):
#
#   1. the full test suite (the tier-1 command of ROADMAP.md, with its
#      environment) green;
#   2. every registered query green against the DuckDB oracle at
#      sf0.01 (the driver's correctness gate, run locally);
#   3. the benchmark of record (perfbench/, BENCHMARK.json) on this
#      box's cores: both gated workloads, paired runs of the base
#      revision and the working tree alternating one at a time, judged
#      by perfbench/compare.py against BENCHMARK.json's bounds.
#
# Usage: tools/round_close.sh [base-rev]   (default HEAD~1)
#   ROUND_CLOSE_SEEDS   paired seeds per workload (default 5)
#   ROUND_CLOSE_SECONDS measured window per run (default BENCHMARK.json's)
#
# A nonzero exit from any step blocks the artifact refresh. Step 3
# fails on any "regression" or "unresolved" verdict: treat it as a
# STOP-AND-ADJUDICATE signal and write the adjudication in PLANS.md.
set -euo pipefail
cd "$(dirname "$0")/.."
root=$(pwd)
base=${1:-HEAD~1}

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=/root/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
export SPARK_LOCAL_DIRS=/tmp/spark-local

echo "== 1/3 test suite (cpus=$SPARK_GRAFT_CPUS mem=$SPARK_DRIVER_MEM) =="
timeout -k 10 2670 sbt --batch -Dsbt.log.noformat=true Test/compile > /dev/null
log=$(mktemp)
set +e
timeout -k 10 2670 sbt --batch -Dsbt.log.noformat=true "testOnly *" > "$log" 2>&1
rc=$?
set -e
grep -E "Tests: |All tests|TEST FAILED|\*\*\* FAILED" "$log" || true
[ "$rc" -eq 0 ] || { echo "test suite failed (exit $rc), log: $log"; exit 1; }

echo "== 2/3 oracle sweep (sf0.01) =="
out=$(mktemp -d)
vlog=$(mktemp)
set +e
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $out" > "$vlog" 2>&1
rc=$?
set -e
# a query that throws shows its cause here; the oracle check below
# would report it only as a mismatch
grep "\[verify\] .* failed: " "$vlog" || true
rm -f "$vlog"
[ "$rc" -eq 0 ] || { echo "graft.Verify failed (exit $rc)"; exit 1; }
# DuckDB spills into .tmp/ under the working directory: keep it out of
# the repository and remove it afterwards
spill=$(mktemp -d)
summary=$(cd "$spill" && python3 "$root/tools/oracle_check.py" \
  /root/testdata/sf0.01 "$out" | tail -2) || true
rm -rf "$spill" "$out"
echo "$summary"
grep -q " 0 failed" <<< "$summary"

echo "== 3/3 benchmark of record vs $base (nproc=$SPARK_GRAFT_CPUS) =="
seeds=${ROUND_CLOSE_SEEDS:-5}
secs=${ROUND_CLOSE_SECONDS:-$(python3 -c \
  'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')}
workloads=$(python3 -c \
  'import json; print(" ".join(w["name"] for w in json.load(open("BENCHMARK.json"))["workloads"]))')
parent=$(mktemp -d)
git archive "$base" | tar -x -C "$parent"
res=$(mktemp -d)
mkdir -p "$res/parent" "$res/change"
run_parent() {
  (cd "$parent" && rm -rf perfbench/out &&
    python3 perfbench/run.py --workload "$1" --seed "$2" \
      --seconds "$secs" --trace 0 > /dev/null &&
    cp perfbench/out/*-t0.json "$res/parent/")
}
run_change() {
  rm -f perfbench/out/"$1-s$2-t0.json"
  python3 perfbench/run.py --workload "$1" --seed "$2" \
    --seconds "$secs" --trace 0 > /dev/null
  cp perfbench/out/"$1-s$2-t0.json" "$res/change/"
}
for w in $workloads; do
  for s in $(seq 1 "$seeds"); do
    # alternate which side runs first by seed parity, so box drift
    # within a pair favours neither side
    if [ $((s % 2)) -eq 1 ]; then
      run_parent "$w" "$s"; run_change "$w" "$s"
    else
      run_change "$w" "$s"; run_parent "$w" "$s"
    fi
  done
done
verdicts=$(python3 perfbench/compare.py "$res/parent" "$res/change")
echo "$verdicts"
rm -rf "$parent"
if grep -Eq ": (regression|unresolved)" <<< "$verdicts"; then
  echo "benchmark gate: regression or unresolved spread (results: $res)"
  exit 1
fi

echo "round close: all gates green"
