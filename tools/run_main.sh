#!/bin/bash
# Run a graft main class directly on this checkout's compiled classes plus
# the Spark jar directory its build.sbt names (`unmanagedBase`), bypassing
# sbt (no build-lock contention with a concurrent `sbt test`, no ~20 s sbt
# startup per invocation). JVM flags mirror build.sbt, so a run here is the
# same measurement as an `sbt runMain` run. The heap defaults to half of
# MemTotal clamped to [2, 8] GiB, the Tier-1 test and perfbench rule;
# SPARK_DRIVER_MEM overrides it.
# Usage: tools/run_main.sh <mainClass> [args...]
set -eu
CLS=$1; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# SPARK_GRAFT_JVM_EXTRA comes LAST: JVM -XX flags are last-wins, so ad-hoc
# A/B flags must be able to override the hardcoded defaults (r19 advice).
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -XX:ReservedCodeCacheSize=512m \
  -Xmx"${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}" \
  ${SPARK_GRAFT_JVM_EXTRA:-} \
  -cp "$(dirname "$0")/../target/scala-2.13/classes:$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$(dirname "$0")/../build.sbt")/*" \
  "$CLS" "$@"
