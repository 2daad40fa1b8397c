#!/usr/bin/env bash
# Builds the engine (src/main/scala) and the benchmark harness
# (perfbench/src) into one class directory, with the Scala compiler that
# ships in Spark's jar directory: no sbt, no dependency resolution.
#
# Usage: perfbench/build.sh <out-dir>
set -euo pipefail

here=$(cd "$(dirname "$0")" && pwd)
root=$(dirname "$here")
jars="${SPARK_HOME:?set SPARK_HOME to the Spark installation}/jars"
out=$1

if [ ! -d "$root/src/main/scala" ]; then
  echo "build.sh: engine sources not found under $root/src/main/scala" >&2
  exit 3
fi
if ! compgen -G "$jars/scala-compiler-*.jar" > /dev/null; then
  echo "build.sh: no scala-compiler jar in $jars (set SPARK_HOME)" >&2
  exit 3
fi

rm -rf "$out"
mkdir -p "$out"
find "$root/src/main/scala" "$here/src" -name '*.scala' | sort > "$out.sources"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out" -classpath "$jars/*" "@$out.sources"
rm -f "$out.sources"
