#!/bin/bash
# Run graft.Bench directly (no sbt wrapper): stdout is exactly the two
# JSON lines (the full one, then a compact summary), the classpath is the stable classes dir (so the resume
# fingerprint's content hash applies), and killing this script's
# process group kills the coordinator AND its worker JVMs — no zombie
# coordinator survives to delete the resume TSVs of a later run.
# Usage: tools/run_bench.sh   (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_SHARDS,
#                              SPARK_GRAFT_ONLY, SPARK_DRIVER_MEM)
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | paste -sd:)"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Dspark.sql.warehouse.dir=/tmp/graft_warehouse \
  -Dderby.system.home=/tmp/graft_derby \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" \
  -cp "$CP" graft.Bench "$@"
