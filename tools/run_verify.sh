#!/bin/bash
# Run graft.Verify against a scale-factor dir without sbt overhead.
# Usage: tools/run_verify.sh [sfDir] [outDir]
set -e
ROOT=$(cd "$(dirname "$0")/.." && pwd)
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADDOPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF" "$OUT"
