#!/usr/bin/env bash
# Build file of the benchmark: compiles the program's main sources and
# the benchmark's JVM side into one class directory with the Scala
# compiler that ships in the Spark distribution, so no build tool has
# to start (or resolve anything) before a run.
#
#   bash perfbench/build.sh <out-dir>     (run from the repository root;
#                                          Spark's jars in $SPARK_JARS or
#                                          $SPARK_HOME/jars)
#
# Rebuilds only when a source file changed: the stamp is a hash of
# every source's path and contents.
set -euo pipefail
out="${1:?usage: build.sh <out-dir>}"
jars="${SPARK_JARS:-${SPARK_HOME:?set SPARK_HOME or SPARK_JARS}/jars}"
scala_ver=2.13.17

mapfile -t sources < <(find src/main/scala perfbench/scala -name '*.scala' | LC_ALL=C sort)
stamp="$(sha256sum "${sources[@]}" | sha256sum | cut -c1-16)"
if [[ -f "$out/stamp" && "$(cat "$out/stamp")" == "$stamp" ]]; then
  exit 0
fi
rm -rf "$out"
mkdir -p "$out/classes"
compiler_cp="$jars/scala-compiler-$scala_ver.jar:$jars/scala-library-$scala_ver.jar:$jars/scala-reflect-$scala_ver.jar"
if ! java -XX:-UsePerfData -Xss16m -Xmx2g -cp "$compiler_cp" scala.tools.nsc.Main -nowarn \
    -d "$out/classes" -classpath "$jars/*" "${sources[@]}" > "$out/compile.log" 2>&1; then
  cat "$out/compile.log" >&2
  exit 1
fi
echo "$stamp" > "$out/stamp"
