#!/bin/bash
# Run one graft main with plain java (no sbt startup cost) on the classes
# `sbt compile` leaves in target/scala-2.13/classes.
# Usage: tools/run_main.sh <class> [args...]
#   e.g. tools/run_main.sh graft.Smoke
#        tools/run_main.sh graft.Profile query <sfDir> ann_pq_topk explain
set -e
cd "$(dirname "$0")/.."
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADDOPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$@"
