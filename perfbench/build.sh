#!/usr/bin/env bash
# Build file of the graft benchmark: compiles the program's sources
# (src/main/scala) together with the benchmark client (perfbench/src)
# into <out>/perfbench.jar, using the Scala compiler that ships in
# Spark's jars directory. Run from the repository root.
#
#   bash perfbench/build.sh .bench_build
set -euo pipefail
out="${1:?usage: build.sh <out-dir>}"
jars="${SPARK_HOME:?set SPARK_HOME to the Spark installation}/jars"
if [ ! -d src/main/scala ] || [ ! -d perfbench/src ]; then
  echo "build.sh: src/main/scala or perfbench/src missing; run from the repository root" >&2
  exit 2
fi
mkdir -p "$out"
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
find src/main/scala perfbench/src -name '*.scala' | LC_ALL=C sort > "$out/sources.txt"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out/classes.tmp" @"$out/sources.txt"
jar cf "$out/perfbench.jar.tmp" -C "$out/classes.tmp" .
rm -rf "$out/classes.tmp"
mv "$out/perfbench.jar.tmp" "$out/perfbench.jar"
