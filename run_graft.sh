#!/bin/bash
# Direct JVM launcher for graft mains (bypasses sbt so parallel runs don't fight the sbt lock).
# Runs the classes `sbt compile` left in this checkout's target/.
# Usage: ./run_graft.sh graft.Verify <sf_dir> <out_dir>
MAIN=$1; shift
CLASSES="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)/target/scala-2.13/classes"
# Spark's jars: $SPARK_HOME, else the install that spark-submit on PATH belongs to
SPARK_HOME="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
exec java $ADDOPENS -Xmx${SPARK_DRIVER_MEM:-12g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  $SPARK_GRAFT_EXTRA_JAVA_OPTS \
  -cp "$CLASSES:$SPARK_HOME/jars/*" "$MAIN" "$@"
