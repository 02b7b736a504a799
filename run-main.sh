#!/bin/bash
# Run a graft main directly against compiled classes + the Spark jars
# (avoids the sbt lock so profiles can run alongside an sbt test session).
# Usage: ./run-main.sh graft.tools.PlanDump <sfDir> <outDir> <suffix> <query>...
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
