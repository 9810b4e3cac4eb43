#!/bin/bash
# Run a graft main with the same JVM options sbt's forked run uses,
# without taking the sbt build lock (lets long Verify/ScaleUp runs
# overlap with compilation). Classes come from the checkout holding this
# script; Spark's jars from $SPARK_HOME, else from the installation whose
# spark-submit is on PATH. Refuses to run when a file under
# src/main/scala is newer than the last successful `sbt compile`: the
# classes would then not be compiled from these sources. sbt rewrites
# its compileOutputs stamp on every successful compile, also one with
# nothing to recompile, and never on a failed one.
HERE="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
CLASSES="$HERE/target/scala-2.13/classes"
STAMP="$HERE/target/streams/compile/_global/_global/compileOutputs/previous"
if [ ! -d "$CLASSES" ] || [ ! -f "$STAMP" ] ||
   [ -n "$(find "$HERE/src/main/scala" -type f -newer "$STAMP" -print -quit)" ]; then
  echo "runjvm.sh: $CLASSES is missing or older than src/main/scala; run \`sbt compile\`" >&2
  exit 1
fi
if [ -z "$SPARK_HOME" ]; then
  SUBMIT="$(command -v spark-submit)" || { echo "runjvm.sh: set SPARK_HOME" >&2; exit 1; }
  SPARK_HOME="$(dirname "$(dirname "$(readlink -f "$SUBMIT")")")"
fi
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$CLASSES:$SPARK_HOME/jars/*" "$@"
