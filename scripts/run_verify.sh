#!/bin/bash
# Fast local run of graft.Verify without sbt startup overhead.
# Usage: scripts/run_verify.sh [sfDir] [outDir] [tmpDir]
# tmpDir (created if missing) becomes the JVM's java.io.tmpdir, where the
# staged layouts live: give two checkouts compared side by side their own
# tmpDir, or one side's run reuses the stages the other side built.
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
rm -rf "$OUT"
TMP_OPT=""
if [ -n "$3" ]; then
  mkdir -p "$3"
  TMP_OPT="-Djava.io.tmpdir=$3"
fi
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx8g $TMP_OPT \
  -cp "/opt/spark/jars/*:target/scala-2.13/classes" \
  graft.Verify "$SF" "$OUT"
