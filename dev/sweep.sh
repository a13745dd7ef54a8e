#!/bin/bash
# Timing sweep: one JVM per query (PERF_r4 §1), each running
# graft.dev.TimeOne for <passes> passes and reporting its fastest; the
# scratch shuffle dir is wiped between JVMs. One JSON line per query is
# appended to <log>; a query that times out or fails gets a
# "TIMEOUT/FAIL" line instead.
# Usage: dev/sweep.sh <sfDir> <log> <passes> <query...>
# Env: HEAP (see dev/run1.sh), TIMEOUT_S (default 1200 per query).
cd "$(dirname "$0")/.." || exit 1
if [ $# -lt 4 ]; then
  echo "usage: dev/sweep.sh <sfDir> <log> <passes> <query...>" >&2
  exit 2
fi
SF="$1"; LOG="$2"; PASSES="$3"; shift 3
wipe() { rm -rf /dev/shm/graft-scratch/spark-local/*; }
for q in "$@"; do
  wipe
  echo "=== $q ===" >&2
  timeout "${TIMEOUT_S:-1200}" dev/run1.sh graft.dev.TimeOne "$q" "$SF" "$PASSES" \
    2>/dev/null | grep '"query"' >> "$LOG" \
    || echo "{\"query\":\"$q\",\"dir\":\"$SF\",\"sec\":\"TIMEOUT/FAIL\"}" >> "$LOG"
done
wipe
echo "done" >&2
