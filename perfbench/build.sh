#!/usr/bin/env bash
# Builds the program (src/main/scala) and the benchmark harness
# (perfbench/src) from source into <out>/classes with the Scala
# compiler that ships among Spark's jars.
#
#   bash perfbench/build.sh <out> <spark jars dir>   # from the repository root
set -euo pipefail
out=${1:?usage: build.sh <out> <spark jars dir>}
jars="${2:?usage: build.sh <out> <spark jars dir>}/*"
rm -rf "$out/classes"
mkdir -p "$out/classes"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out/sources.txt"
java -Xmx2g -Xss8m -cp "$jars" scala.tools.nsc.Main -nowarn \
  -classpath "$jars" -d "$out/classes" "@$out/sources.txt"
