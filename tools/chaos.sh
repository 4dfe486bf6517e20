#!/bin/bash
# Executor-kill chaos harness (SCALING.md round-15): run a Verify subset or
# StreamBench under local-cluster while SIGKILLing a random executor process
# every KILL_EVERY seconds. Every kill shows in the driver log as
# "Lost executor N ... exited with code 137"; the standalone worker
# relaunches it. Expected outcome: zero [verify] failures and (for Verify)
# FAILURES: 0 from tools/check.py afterwards.
#
# Usage:
#   tools/chaos.sh verify <sfDir> <outDir> [queries] [killEverySec]
#   tools/chaos.sh stream [killEverySec]     # composed kv chain; StreamBench
#                                            # exits non-zero unless the store
#                                            # matches a batch replay
#   tools/chaos.sh occ [killEverySec]        # OCC multi-writer + compactor
#   tools/chaos.sh late [killEverySec]       # late/dup corpus through the
#                                            # incremental + CDC views
#   tools/chaos.sh verdict [killEverySec]    # late/dup corpus through the
#                                            # bot-verdict stateful chain
#                                            # (TrackListState on RocksDB
#                                            # + graft-kv sink)
set -u
cd "$(dirname "$0")/.."
MODE="${1:?verify|stream|occ|late|verdict}"; shift || true
export SPARK_GRAFT_MASTER="${SPARK_GRAFT_MASTER:-local-cluster[2,8,6144]}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}"

if [ "$MODE" = "verify" ]; then
  SF="${1:?sfDir}"; OUT="${2:?outDir}"; Q="${3:-}"; EVERY="${4:-13}"
  export SPARK_GRAFT_SHUFFLE="${SPARK_GRAFT_SHUFFLE:-16}"
  if [ -n "$Q" ]; then
    tools/run.sh graft.Verify "$SF" "$OUT" "$Q" > "$OUT.log" 2>&1 &
  else
    tools/run.sh graft.Verify "$SF" "$OUT" > "$OUT.log" 2>&1 &
  fi
elif [ "$MODE" = "occ" ]; then
  EVERY="${1:-10}"
  tools/run.sh graft.OccChaos > /tmp/chaos_occ.log 2>&1 &
elif [ "$MODE" = "late" ]; then
  EVERY="${1:-10}"
  tools/run.sh graft.LateChaos > /tmp/chaos_late.log 2>&1 &
elif [ "$MODE" = "verdict" ]; then
  EVERY="${1:-10}"
  tools/run.sh graft.VerdictChaos > /tmp/chaos_verdict.log 2>&1 &
else
  EVERY="${1:-10}"
  SPARK_GRAFT_SOURCE="${SPARK_GRAFT_SOURCE:-dsv2}" \
  SPARK_GRAFT_SINK="${SPARK_GRAFT_SINK:-kv}" \
  SPARK_GRAFT_STATE="${SPARK_GRAFT_STATE:-rocksdb}" \
    tools/run.sh graft.StreamBench > /tmp/chaos_stream.log 2>&1 &
fi
VPID=$!
sleep 8
K=0
# Only SIGKILL executors belonging to THIS run: a bare
# pgrep -f CoarseGrainedExecutorBackend matches every executor backend on
# the host, so a concurrent Spark job (or a second chaos run) would have
# its executors shot too. Walk each candidate's ppid chain up to $VPID —
# local-cluster workers and their executors are descendants of the driver.
is_ours() {
  local pid="$1"
  while [ -n "$pid" ] && [ "$pid" -gt 1 ] 2>/dev/null; do
    [ "$pid" = "$VPID" ] && return 0
    pid=$(ps -o ppid= -p "$pid" 2>/dev/null | tr -d ' ')
  done
  return 1
}
while kill -0 "$VPID" 2>/dev/null; do
  EPID=$(for p in $(pgrep -f CoarseGrainedExecutorBackend); do
           is_ours "$p" && echo "$p"; done | shuf | head -1 || true)
  if [ -n "$EPID" ]; then
    kill -9 "$EPID" 2>/dev/null || true
    K=$((K+1)); echo "chaos: kill #$K pid $EPID"
  fi
  sleep "$EVERY"
done
wait "$VPID" 2>/dev/null; RC=$?
echo "chaos: driver rc=$RC kills=$K"
exit $RC
