#!/usr/bin/env bash
# Profile one query's stage timeline: runs graft.Explain <q> <sf> run2 with
# Spark's event log on, then prints stages >0.2s with task counts — the fast
# way to spot single-task straggler stages (AQE over-coalescing before a
# fan-out). The log is switched on by spark.* system properties, which the
# session builder reads; the program has no knob of its own for it.
# Usage: tools/profile_stages.sh <query> <sfDir> [cpus]
# Without a cpus argument the session's own default applies
# (SPARK_GRAFT_CPUS, else the host's processor count).
set -euo pipefail
Q="$1"; SF="${2:?usage: tools/profile_stages.sh <query> <sfDir> [cpus]}"
if [ $# -ge 3 ]; then export SPARK_GRAFT_CPUS="$3"; fi
EV=$(mktemp -d /tmp/evprof_XXXX)
JAVA_TOOL_OPTIONS="${JAVA_TOOL_OPTIONS:-} -Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file://$EV" \
  "$(dirname "$0")/runjvm.sh" graft.Explain "$Q" "$SF" run2 2>/dev/null | grep '\[explain\]' || true
for z in "$EV"/eventlog_v2_local-*/events_1_local-*.zstd; do
  zstd -d -c "$z" 2>/dev/null
done > "$EV/log.json" || true
python3 - "$EV/log.json" <<'EOF'
import json,sys
stages=[]
for line in open(sys.argv[1]):
    try: e=json.loads(line)
    except: continue
    if e.get('Event')=='SparkListenerStageCompleted':
        s=e['Stage Info']
        dur=(s.get('Completion Time',0)-s.get('Submission Time',0))/1000
        stages.append((s.get('Submission Time',0),dur,s['Stage ID'],s['Number of Tasks'],s['Stage Name'][:70]))
stages.sort()
t0=stages[0][0] if stages else 0
for sub,dur,sid,nt,name in stages:
    if dur>0.2: print(f'@{(sub-t0)/1000:7.1f}s  {dur:6.2f}s stage{sid:4d} tasks={nt:4d} {name}')
EOF
rm -rf "$EV"
