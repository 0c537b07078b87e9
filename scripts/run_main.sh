#!/usr/bin/env bash
# Launch a graft main against the compiled classes without sbt's JVM
# overhead (sbt forks per run and re-resolves the build; a scale sweep
# launches dozens of JVMs). Mirrors build.sbt's jdk17AddOpens; Spark confs
# come from the graft.Session profile every main builds.
#
#   GRAFT_MEM=48g scripts/run_main.sh graft.ScaleGen /root/testdata/sf0.1 /tmp/graft_sf1 10
set -eu
REPO="$(cd "$(dirname "$0")/.." && pwd)"
MAIN="$1"; shift
OPENS=(java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
  java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
  java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
  java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
  java.base/sun.util.calendar)
ARGS=()
for p in "${OPENS[@]}"; do ARGS+=("--add-opens" "$p=ALL-UNNAMED"); done
exec java "${ARGS[@]}" \
  -Xmx"${GRAFT_MEM:-48g}" \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
