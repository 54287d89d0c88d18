#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main/scala) and the
# benchmark (perfbench/src) with the Scala compiler that ships in the Spark
# distribution's jars, into .bench_build/classes/{main,bench}.
#
#   bash perfbench/build.sh        # from the root of a checkout
#
# Needs a JDK 17 `java` on PATH and Spark 4.x at $SPARK_HOME. Exits
# non-zero when either source tree is missing.
set -euo pipefail

root=$(cd "$(dirname "$0")/.." && pwd)
jars="${SPARK_HOME:?set SPARK_HOME to the Spark installation}/jars"
out="$root/.bench_build/classes"

[ -d "$root/src/main/scala" ] || { echo "no program sources under src/main/scala" >&2; exit 2; }
[ -d "$jars" ] || { echo "no Spark jars at $jars" >&2; exit 2; }

scalac() {
  java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn "$@"
}

rm -rf "$out"
mkdir -p "$out/main" "$out/bench"
find "$root/src/main/scala" -name '*.scala' > "$out/main.sources"
scalac -d "$out/main" -classpath "$jars/*" @"$out/main.sources"
find "$root/perfbench/src" -name '*.scala' > "$out/bench.sources"
scalac -d "$out/bench" -classpath "$out/main:$jars/*" @"$out/bench.sources"
touch "$out/_COMPLETE"
