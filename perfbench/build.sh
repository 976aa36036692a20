#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main/scala) together
# with the benchmark's own sources into perfbench/.build/classes, using the
# Scala compiler and the Spark jars under SPARK_JARS (default /opt/spark/jars).
# Run from the root of a checkout.
set -euo pipefail
JARS="${SPARK_JARS:-/opt/spark/jars}"
OUT=perfbench/.build/classes
rm -rf "$OUT.tmp" && mkdir -p "$OUT.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > perfbench/.build/sources.txt
java -XX:-UsePerfData -Xmx2g -Xss8m -cp "$JARS/*" scala.tools.nsc.Main -nowarn \
  -classpath "$JARS/*" -d "$OUT.tmp" @perfbench/.build/sources.txt
rm -rf "$OUT" && mv "$OUT.tmp" "$OUT"
