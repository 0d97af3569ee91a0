#!/bin/bash
# Dev-only: sample jstack of the newest Spark JVM (an sbt-forked test or
# run JVM, or a perfbench run's graft.perfbench.Main) every 0.3 s while
# it lives, dumping to $1 (default /tmp/stacks.txt). One jstack can take
# seconds on a loaded host; tools/jfrprof.py attributes driver time from
# a flight recording instead, without pausing the JVM per sample.
# Usage: tools/stacksample.sh [outfile] [seconds]
OUT=${1:-/tmp/stacks.txt}
SECS=${2:-120}
: > "$OUT"
END=$((SECONDS + SECS))
while [ $SECONDS -lt $END ]; do
  PID=$(ps -ww -eo pid,cmd --sort=-start_time | grep -E "java .*sbt-args|java @|java .*graft\.perfbench\.Main" | grep -v grep | awk '{print $1}' | head -1)
  if [ -n "$PID" ]; then
    echo "==== sample $(date +%s.%N) pid=$PID ====" >> "$OUT"
    jstack "$PID" >> "$OUT" 2>/dev/null
  fi
  sleep 0.3
done
