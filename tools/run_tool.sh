#!/bin/bash
# Run a graft test-classpath tool from compiled classes without taking the
# sbt lock: the A/B instrument graft.tools.Probe, or one of the lanes in
# graft.tools (FaultLane, SpillLane, StarCcFaultLane, R20ClusterLane,
# AgeInteropLane, PushdownAudit). Usage:
#   run_tool.sh <mainClass> [mem] [args...]
#   run_tool.sh graft.tools.Probe 8g <corpus dir> 5 q01_agg_pricing \
#     q01_agg_pricing,spark.sql.autoBroadcastJoinThreshold=-1
# Env passes through (SPARK_GRAFT_SF_DIR etc).
set -e
MAIN=${1:?main class}
MEM=${2:-80g}
shift 2 || shift 1
OPENS=""
for m in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$m=ALL-UNNAMED"
done
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$MEM" \
  -cp /root/repo/target/scala-2.13/test-classes:/root/repo/target/scala-2.13/classes:'/opt/spark/jars/*' \
  "$MAIN" "$@"
