#!/usr/bin/env bash
# Builds the benchmark: compiles the engine's sources (src/main of the
# checkout this directory sits in) together with the benchmark's own
# sources, with the Scala compiler that ships in Spark's jars directory.
#
# usage: perfbench/build.sh <classes-dir>
set -euo pipefail

here="$(cd "$(dirname "$0")" && pwd)"
root="$(dirname "$here")"
out="$1"

if [ -z "${SPARK_HOME:-}" ]; then
  submit="$(command -v spark-submit || true)"
  [ -n "$submit" ] || { echo "build: set SPARK_HOME or put spark-submit on PATH" >&2; exit 1; }
  SPARK_HOME="$(dirname "$(dirname "$(readlink -f "$submit")")")"
fi
jars="$SPARK_HOME/jars"
compiler="$(ls "$jars"/scala-compiler_*.jar "$jars"/scala-compiler-*.jar 2>/dev/null | head -1 || true)"
[ -n "$compiler" ] || { echo "build: no scala-compiler jar in $jars" >&2; exit 1; }
[ -d "$root/src/main/scala" ] || { echo "build: engine sources missing: $root/src/main/scala" >&2; exit 1; }

tmp="$out.tmp"
rm -rf "$tmp"
mkdir -p "$tmp"
find "$root/src/main/scala" "$here/src" -name '*.scala' | sort > "$tmp.sources"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -classpath "$(ls "$jars"/*.jar | tr '\n' ':')" -d "$tmp" @"$tmp.sources"
if [ -d "$root/src/main/resources" ]; then cp -R "$root/src/main/resources/." "$tmp/"; fi
rm -f "$tmp.sources"
rm -rf "$out"
mv "$tmp" "$out"
