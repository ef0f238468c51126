#!/bin/bash
# Dev helper: run a graft main class directly on the compiled classpath
# (fast iteration without sbt JVM startup). Usage: dev/run.sh <main> [args...],
# e.g. SPARK_GRAFT_BENCH_ONLY=q72 dev/run.sh graft.Bench to time one query.
set -e
CP=$(cat /tmp/classpath.txt)
ADD_OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
exec java $ADD_OPENS -XX:ReservedCodeCacheSize=512m -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx${SPARK_DRIVER_MEM:-8g} -cp "$CP" "$@"
