#!/usr/bin/env bash
# Builds the engine (src/main/scala) and the benchmark (perfbench/src)
# into one class directory with the Scala compiler that ships with Spark.
# Usage, from the repository root: bash perfbench/build.sh <out-dir> <spark-jars-dir>
set -euo pipefail
out="$1"
jars="$2"
[ -d src/main/scala/graft ] || { echo "build: engine sources not found" >&2; exit 2; }
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.tmp/sources.txt"
java -Xss8m -Xmx3g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.tmp" -classpath "$jars/*" @"$out.tmp/sources.txt"
rm -rf "$out"
mv "$out.tmp" "$out"
