#!/bin/bash
# Runner for graft.Dev, whose five verbs take SparkEntry.queries keys:
#   scripts/dev.sh schema <sfDir>
#   scripts/dev.sh explain <key> <sfDir>
#   scripts/dev.sh run <key> <sfDir>
#   scripts/dev.sh prof <key[,key...]> <sfDir> [iters]
#   scripts/dev.sh scaleprobe <sfDir> [factors] [key...]
# e.g. scripts/dev.sh prof q1_pricing,v_knn <sfDir> 3
set -e
cd "$(dirname "$0")/.."
sbt -batch compile -error >/dev/null
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx${DEV_XMX:-8g} -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Dev "$@"
