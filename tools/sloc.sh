#!/usr/bin/env bash
# Code lines of Scala under src/main, excluding blank and comment-only
# lines: the total, then the per-file counts of Engine.scala and
# Daat.scala. Usage: bash tools/sloc.sh [repo root]
set -euo pipefail
cd "${1:-$(dirname "$0")/..}"
code() { grep -cvE '^\s*$|^\s*(//|/\*|\*)' || true; }
echo "src/main $(find src/main -name '*.scala' -print0 | xargs -0 cat | code)"
for f in Engine Daat; do
  echo "$f.scala $(code < src/main/scala/graft/search/$f.scala)"
done
