#!/usr/bin/env bash
# Compiles graft's main sources and the benchmark harness into one class
# directory, with the Scala compiler that ships in Spark's jars.
#
#   bash perfbench/build.sh <out-dir> <spark-jars-dir>
set -euo pipefail
out="$1"
jars="$2"
root="$(cd "$(dirname "$0")/.." && pwd)"
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find "$root/src/main/scala" "$root/perfbench/src" -name '*.scala' > "$out.tmp/sources.txt"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.tmp" -classpath "$jars/*" "@$out.tmp/sources.txt"
rm -f "$out.tmp/sources.txt"
rm -rf "$out"
mv "$out.tmp" "$out"
