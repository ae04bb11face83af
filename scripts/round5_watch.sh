#!/bin/bash
# Round-5 health watcher (VERDICT r4 ask #1: watcher from session open).
# Like bench_watch.sh but coordination-aware so the builder can keep doing
# sbt feature work while it waits for a healthy window:
#   - skips a probe whenever /tmp/graft_busy exists (builder holds it while
#     sbt compile/test/Verify runs are active — those would both read a low
#     probe AND be slowed by it);
#   - on the first healthy probe (>= THRESHOLD URLs/s at 8 cores) it creates
#     /tmp/graft_protocol_running, runs the full sample chain (3x3 protocol,
#     post-probe, seen A/Bs at 1e5+1e6, graph N->4N), then removes the flag.
#     The builder checks that flag before starting any sbt work.
# No forced fallback run here: round 4 already published a degraded-window
# protocol at a byte-identical scheduling path; round 5 only wants a HEALTHY
# run of record. If the window never appears, the log discloses every probe.
set -u
cd "$(dirname "$0")/.."
LOG=${1:-/tmp/round5_watch.log}
THRESHOLD=${THRESHOLD:-1700}
ATTEMPTS=${ATTEMPTS:-80}
SLEEP=${SLEEP:-480}
echo "== watcher start $(date -u +%F' '%T) threshold=$THRESHOLD attempts=$ATTEMPTS" >> "$LOG"
# Launch gate: TWO consecutive healthy probes (back-to-back, ~3 min apart).
# The 05:44 UTC attempt launched on a single 1810-probe and the window
# decayed before round 1 finished (8-core samples fell to ~1430) — a
# transient spike is indistinguishable from a stable idle stretch with one
# probe, and a wasted launch costs 25 min of samples.
launched=0
streak=0
for i in $(seq 1 "$ATTEMPTS"); do
  if [ -e /tmp/graft_busy ]; then
    echo "$(date -u +%H:%M:%S) probe#$i skipped (builder busy)" >> "$LOG"
    streak=0
    sleep 120
    continue
  fi
  line=$(scripts/scaling_protocol.sh probe 2>/dev/null | tail -1)
  tput=$(echo "$line" | python3 -c "import json,sys; print(json.load(sys.stdin)['urls_per_sec'])" 2>/dev/null || echo 0)
  ok=$(python3 -c "print(1 if float('$tput' or 0)>=$THRESHOLD else 0)")
  if [ "$ok" = "1" ]; then streak=$((streak+1)); else streak=0; fi
  echo "$(date -u +%H:%M:%S) probe#$i $tput streak=$streak" >> "$LOG"
  if [ "$streak" -ge 2 ]; then launched=1; break; fi
  if [ "$streak" = "1" ]; then continue; fi   # confirm immediately, no sleep
  sleep "$SLEEP"
done
if [ "$launched" = "1" ]; then
  # a killed watcher must not leave the flag behind: sbt work waits while it exists
  trap 'rm -f /tmp/graft_protocol_running' EXIT
  touch /tmp/graft_protocol_running
  echo "== protocol start $(date -u +%F' '%T)" >> "$LOG"
  scripts/scaling_protocol.sh >> "$LOG" 2>/dev/null
  echo "== post-protocol probe" >> "$LOG"
  scripts/scaling_protocol.sh probe >> "$LOG" 2>/dev/null
  echo "== ab (1e5 horizon)" >> "$LOG"
  scripts/scaling_protocol.sh ab >> "$LOG" 2>/dev/null
  echo "== ab1m (1e6 horizon)" >> "$LOG"
  scripts/scaling_protocol.sh ab1m >> "$LOG" 2>/dev/null
  echo "== graph" >> "$LOG"
  scripts/scaling_protocol.sh graph >> "$LOG" 2>/dev/null
  rm -f /tmp/graft_protocol_running
  echo "== done $(date -u +%F' '%T)" >> "$LOG"
else
  echo "== no healthy window after $ATTEMPTS probes $(date -u +%F' '%T)" >> "$LOG"
fi
