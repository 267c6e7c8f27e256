#!/usr/bin/env bash
# Run a graft main on the compiled classes WITHOUT sbt (no target lock):
# tools/runmain.sh <mainClass> [args...]
# Test-source-set mains (graft.Fuzz) run too, after `sbt Test/compile`.
set -euo pipefail
MAIN="$1"; shift
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
# Spark's jars: the directory build.sbt compiles against (unmanagedBase)
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")"
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
LC_ALL=C.utf8 java $OPENS -Xmx"${RUNMAIN_MEM:-12g}" -XX:ReservedCodeCacheSize=512m \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Dfile.encoding=UTF-8 \
  -cp "$ROOT/target/scala-2.13/classes:$ROOT/target/scala-2.13/test-classes:$JARS/*" "$MAIN" "$@"
