#!/bin/bash
# Round-close measurement chain: run on a QUIET host, in this order
# (bench first so the driver-comparable number exists even if the
# session is cut; the 3-decade probe last because it is the longest).
# Every artifact carries the hostprobe fixture stamps.
set -x
cd /root/repo
R="${1:?usage: round_close_chain.sh r10}"

# Every artifact is written to X.tmp and moved over X only when its
# command exits 0, so a snapshot taken mid-chain never commits a
# truncated or empty file. A failed step leaves X.tmp for inspection.
# settle OUT RC: promote OUT.tmp to OUT on rc 0; return RC.
settle() {
  [ "$2" -eq 0 ] && mv "$1.tmp" "$1"
  return "$2"
}
# to_artifact OUT CMD...: run CMD with stdout into OUT.tmp, then settle.
to_artifact() {
  local out="$1"
  shift
  "$@" > "$out.tmp"
  settle "$out" $?
}

SPARK_GRAFT_BENCH_OUT="$PWD/BENCH_LOCAL_${R}.json.tmp" \
  python3 bench.py > /tmp/bench_${R}_stdout.json 2>/tmp/bench_${R}.err
settle "BENCH_LOCAL_${R}.json" $?
echo "BENCH rc=$?"

to_artifact "PLANSHASH_${R}.json" python3 scripts/dump_plans.py --hashes \
  2>/tmp/planshash_${R}.err
echo "PLANSHASH rc=$?"

# parity at every shipped scale factor, one artifact per SF
for SF in 0.001 0.01 0.1; do
  python3 scripts/driver_sim.py "/root/testdata/sf${SF}" \
    --emit-json "PARITY_${R}_sf${SF}.json.tmp" > "/tmp/parity_${R}_sf${SF}.log" 2>&1
  settle "PARITY_${R}_sf${SF}.json" $?
  echo "PARITY sf${SF} rc=$?"
done

to_artifact "RECALL_${R}.json" python3 scripts/recall_report.py --deep \
  2>/tmp/recall_${R}.err
echo "RECALL rc=$?"

SPARK_GRAFT_PROBE_RUNS=1 SPARK_GRAFT_PROBE_SCALES="sf0.1:/root/testdata/sf0.1:1,sf1_probe:/root/repo/scale_probe/sf1:10,sf10_probe:/root/repo/scale_probe/sf10:100" \
  to_artifact "SCALEPROBE_${R}_3pt.json" python3 scripts/scale_probe.py \
  2>/tmp/scale_probe_${R}.err
echo "PROBE rc=$?"

# Deep test tier (round-11 verdict #2): the default `pytest tests/` run
# is the driver-facing fast tier; the endurance soaks run once per
# round here so coverage never depends on the driver's capture window.
SPARK_GRAFT_DEEP_TESTS=1 python3 -m pytest tests/test_versioned_lake.py -q \
  > /tmp/deep_tests_${R}.log 2>&1
echo "DEEPTESTS rc=$?"
echo "CHAIN DONE"
