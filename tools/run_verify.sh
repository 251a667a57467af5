#!/bin/bash
# Run graft.Verify (or another main) directly with java — no sbt startup cost.
# Usage: tools/run_verify.sh [sfDir] [outDir]
# Env: MAIN=graft.Verify SPARK_GRAFT_CPUS=8 HEAP=8
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
MAIN=${MAIN:-graft.Verify}
CLASSES=target/scala-2.13/classes
# Never time or check stale classes: refuse when a src/main file is newer
# than everything under the classes directory. A source touched without a
# content change compiles to nothing; `touch $CLASSES` then marks the
# classes current.
if [ ! -d "$CLASSES" ]; then
  echo "no compiled classes at $CLASSES: run 'sbt compile' first" >&2
  exit 2
fi
NEWEST=$(find "$CLASSES" -printf '%T@ %p\n' | sort -n | tail -1 | cut -d' ' -f2-)
STALE=$(find src/main -type f -newer "$NEWEST" -print -quit)
if [ -n "$STALE" ]; then
  echo "$STALE is newer than the classes in $CLASSES: run 'sbt compile' first" >&2
  exit 2
fi
CP="$CLASSES:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
OPENS="$OPENS --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED"
OPENS="$OPENS --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
shift $(( $# > 2 ? 2 : $# ))
# HEAP is numeric GIGABYTES (HEAP=8, not HEAP=8g — the g is appended below)
if ! [[ "${HEAP:-8}" =~ ^[0-9]+$ ]]; then
  echo "HEAP must be a plain gigabyte count (e.g. HEAP=8), got: $HEAP" >&2
  exit 2
fi
# UTF-8 locale: Korean filenames (the reference RAW_DATA artifact) are
# unmappable under the default POSIX locale's sun.jnu.encoding, which the
# JVM derives from the environment at init — -D flags alone don't reach
# the native path encoder
export LC_ALL=C.UTF-8
exec java $OPENS -Xmx${HEAP:-8}g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dsun.jnu.encoding=UTF-8 -Dfile.encoding=UTF-8 \
  -cp "$CP" "$MAIN" "$SF" "$OUT" "$@"
