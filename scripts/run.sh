#!/bin/bash
# Run a graft main class directly (faster than sbt run).
# usage: scripts/run.sh <mainClass> [args...]
MAIN=$1; shift
# classes of the checkout this script lives in, not of any other copy
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:/opt/spark/jars/*:$ROOT/target/scala-2.13/test-classes"
ADD_OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
exec java $ADD_OPENS $GRAFT_JAVA_OPTS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx${SPARK_DRIVER_MEM:-8g} -cp "$CP" "$MAIN" "$@"
