#!/usr/bin/env bash
# Builds the engine (src/main/scala) and the benchmark driver (perfbench/src)
# with the Scala 2.13 compiler that ships among Spark's jars, without sbt.
# Run from the repository root:
#
#   bash perfbench/build.sh OUT_DIR
#
# Leaves the engine's classes in OUT_DIR/engine and the driver's in
# OUT_DIR/driver. Needs SPARK_HOME to name a Spark 4.1 distribution.
set -euo pipefail

out=${1:?usage: build.sh OUT_DIR}
jars="${SPARK_HOME:?SPARK_HOME must name a Spark 4.1 distribution}/jars"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here" >&2; exit 2; }

compiler=$(ls "$jars"/scala-compiler-2.13.*.jar "$jars"/scala-library-2.13.*.jar \
  "$jars"/scala-reflect-2.13.*.jar | tr '\n' ':')
classpath=$(ls "$jars"/*.jar | tr '\n' ':')
scalac() { java -Xmx2g -Xss8m -cp "$compiler" scala.tools.nsc.Main -nowarn "$@"; }

rm -rf "$out/engine" "$out/driver"
mkdir -p "$out/engine" "$out/driver"
find src/main/scala -name '*.scala' | sort > "$out/engine.sources"
find perfbench/src -name '*.scala' | sort > "$out/driver.sources"
scalac -classpath "$classpath" -d "$out/engine" "@$out/engine.sources"
scalac -classpath "$classpath$out/engine" -d "$out/driver" "@$out/driver.sources"
