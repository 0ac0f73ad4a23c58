#!/usr/bin/env bash
# Builds the benchmark: graft's main sources plus perfbench/src, compiled
# with the Scala 2.13 compiler that ships in the Spark jars (no sbt).
#   perfbench/build.sh <classes-dir>
# Skips the compile when the sources' hash matches the last build's.
set -euo pipefail
cd "$(dirname "$0")/.."
out=${1:?usage: perfbench/build.sh <classes-dir>}
jars=${SPARK_HOME:?set SPARK_HOME to the Spark distribution}/jars
[ -d src/main/scala ] || { echo "build: src/main/scala not found" >&2; exit 2; }
mapfile -t srcs < <(find src/main/scala perfbench/src -name '*.scala' | sort)
stamp=$(cat "${srcs[@]}" perfbench/build.sh | sha256sum | cut -d' ' -f1)
if [ -f "$out/.stamp" ] && [ "$(cat "$out/.stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out" && mkdir -p "$out"
java -Xss8m -Xmx2g -XX:-UsePerfData -Djava.io.tmpdir="$out" \
  -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out" "${srcs[@]}"
cp -r src/main/resources/. "$out/"
echo "$stamp" > "$out/.stamp"
