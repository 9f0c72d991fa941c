#!/usr/bin/env bash
# Build file of the benchmark: compiles the engine sources (src/main/scala)
# together with the benchmark sources (kgbench/src) into one classes
# directory, using the Scala compiler that ships in the Spark distribution's
# jars directory. No dependency resolution, no network.
#
#   bash kgbench/build.sh <classes-dir>     (run from the repository root)
set -euo pipefail
out="${1:?usage: build.sh <classes-dir>}"
spark_home="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
jars="$spark_home/jars"
ls "$jars"/scala-compiler-*.jar >/dev/null
test -d src/main/scala
rm -rf "$out"
mkdir -p "$out"
find src/main/scala kgbench/src -name '*.scala' | sort > "$out.sources"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn -deprecation:false \
  -d "$out" -cp "$jars/*" "@$out.sources"
