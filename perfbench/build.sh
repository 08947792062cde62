#!/usr/bin/env bash
# Compiles the program (src/main/scala) together with the benchmark
# (perfbench/scala) into <outDir>/classes, using the Scala compiler that
# ships among Spark's jars, so no build tool or network is needed.
# Usage, from the repository root:  bash perfbench/build.sh <outDir>
# SPARK_HOME must point at the Spark 4 installation whose jars the
# program is compiled and run against.
set -euo pipefail
out="$1"
jars="${SPARK_HOME:?SPARK_HOME is not set}/jars"
mkdir -p "$out"
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
find src/main/scala perfbench/scala -name '*.scala' | sort > "$out/sources.txt"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes.tmp" -classpath "$jars/*" @"$out/sources.txt"
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
