#!/usr/bin/env bash
# Direct-JVM probe runner: runs a graft.tools.* (or graft.Bench) main
# against the compiled classes WITHOUT sbt, so probes/benches can run in
# the background while sbt compiles/tests/gates concurrently (sbt holds a
# project-wide lock). Mirrors build.sbt's javaOptions (JDK17 --add-opens,
# UTC, UI off, SPARK_DRIVER_MEM). Compile first (`sbt -batch compile`),
# and do NOT recompile while a probe JVM is mid-run — lazy classloading
# reads the class files being rewritten.
#   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 scripts/probe.sh graft.tools.PlanAudit
set -euo pipefail
cd "$(dirname "$0")/.."
CLS="$1"; shift || true
OPENS="java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect java.base/java.io java.base/java.net java.base/java.nio java.base/java.util java.base/java.util.concurrent java.base/java.util.concurrent.atomic java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action java.base/sun.util.calendar"
FLAGS=""
for p in $OPENS; do FLAGS="$FLAGS --add-opens $p=ALL-UNNAMED"; done
exec java $FLAGS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$CLS" "$@"
