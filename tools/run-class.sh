#!/usr/bin/env bash
# Run a graft main class against the sbt-compiled classes WITHOUT sbt —
# avoids the sbt build lock so profiles/benches can run while a test suite
# compiles, and starts ~10 s faster. Mirrors build.sbt's forked-run JVM
# setup (JDK17 add-opens, UTC, UI off, 8g default heap).
#   tools/run-class.sh graft.Bench
#   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 tools/run-class.sh graft.Bench
#   SPARK_GRAFT_SF_DIR=<sfDir> tools/run-class.sh graft.Bench d14_prefix_neardup sess_stream_replay
#   tools/run-class.sh graft.Explain /root/testdata/sf0.001 d13_lexical_neardup
#   GRAFT_EXTRA_JAVA_OPTS="-Dspark.graft.materialize.mode=reliable -Dspark.graft.materialize.dir=/tmp/ckpt" \
#     tools/run-class.sh graft.Bench d6_dup_clusters
set -euo pipefail
cd "$(dirname "$0")/.."
# SPARK_EXTRA_JARS keeps parity with build.sbt's forked run (the opt-in
# kafka connector rides it); test classes are NOT on this classpath.
CP="target/scala-2.13/classes:/opt/spark/jars/*${SPARK_EXTRA_JARS:+:$SPARK_EXTRA_JARS}"
ADD_OPENS=(
  java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect
  java.base/java.io java.base/java.net java.base/java.nio java.base/java.util
  java.base/java.util.concurrent java.base/java.util.concurrent.atomic
  java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action
  java.base/sun.util.calendar
)
OPENS=()
for p in "${ADD_OPENS[@]}"; do OPENS+=(--add-opens "$p=ALL-UNNAMED"); done
exec java "${OPENS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  ${GRAFT_EXTRA_JAVA_OPTS:-} \
  -cp "$CP" "$@"
