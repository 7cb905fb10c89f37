#!/usr/bin/env bash
# Fault-injection probe for graft.io.Staging.publish: kill -9 a
# JVM mid-build (version dir written, _PUBLISHED never stamped) and
# verify readers still resolve the previous published version, the torn
# dir stays invisible and its number is never reused, and GC sweeps it.
# The staged-artifact twin of probe_swap_kill9.sh (the in-place table swap).
# Run from the repo root: tools/probes/probe_versioned_kill9.sh
set -u
cd "$(dirname "$0")/../.."
SHELL_ARGS="--master local[8] --conf spark.ui.enabled=false \
  --conf spark.sql.shuffle.partitions=8 --conf spark.sql.session.timeZone=UTC \
  --driver-class-path target/scala-2.13/classes"

LOG=$(mktemp /tmp/versioned_kill9.XXXXXX.log)
/opt/spark/bin/spark-shell $SHELL_ARGS \
  -i tools/probes/probe_versioned_kill9_phase1.sc >"$LOG" 2>&1 &
P1=$!
for i in $(seq 1 120); do
  grep -q "VERSK9 staged_written_sleeping" "$LOG" && break
  sleep 1
done
grep "VERSK9" "$LOG"
if ! grep -q "VERSK9 staged_written_sleeping" "$LOG"; then
  echo "VERSK9 FAIL: phase 1 never reached the kill window"; kill -9 $P1; exit 1
fi
PIDS=$(pgrep -f "probe_versioned_kill9_phase1" || true)
echo "VERSK9 killing: $PIDS"
kill -9 $PIDS 2>/dev/null
wait $P1 2>/dev/null
/opt/spark/bin/spark-shell $SHELL_ARGS \
  -i tools/probes/probe_versioned_kill9_phase2.sc 2>/dev/null | grep VERSK9
