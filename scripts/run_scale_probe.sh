#!/bin/sh
# Run one graft.tools.ScaleProbe cell in its own JVM (sbt's forked heap
# is too small for the data-dominated cells, and each store family needs
# a fresh JVM so block-manager residue from one probe can't skew the
# next — see BASELINE.md round-14/15).
#
# Usage: run_scale_probe.sh <heap> <factor> <mode> <log>
#   e.g.: run_scale_probe.sh 48g 800 datadom6lex /tmp/lex800.log
#
# Modes: datadom2, datadom3, datadom4, datadom6, datadom6lex (see the
# ScaleProbe scaladoc). The session comes from graft.tools.Harness, which
# sizes Spark from SPARK_GRAFT_CPUS; it defaults to 32 here, the
# local[32] shape the recorded BASELINE.md cells ran at.
#
# Protocol (BASELINE.md round-15): run on an IDLE box — a concurrent
# test suite inflated per-trigger walls 2–7× with monotone-looking
# drift — and take the replicate cells (6 same-size triggers) as the
# evidence, not any single wall. GRAFT_PHASE_TIMING=1 emits the
# per-phase decomposition (probe / appends / meta refresh / folds) as
# JSON lines for attributing any residual growth.
MEM="$1"; FACTOR="$2"; MODE="$3"; LOG="$4"
[ -n "$LOG" ] || { echo "usage: $0 <heap> <factor> <mode> <log>" >&2; exit 2; }
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"
GRAFT_PHASE_TIMING=1 java $OPENS -Xmx"$MEM" -Djava.awt.headless=true \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.tools.ScaleProbe "$FACTOR" "$MODE" > "$LOG" 2>&1
