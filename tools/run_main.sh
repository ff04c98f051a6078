#!/usr/bin/env bash
# Run a graft main class in a FRESH plain JVM with the exact JVM options
# build.sbt gives forked runs (Spark-on-JDK17 --add-opens set, UTC, no UI,
# 24g heap). Exists because `sbt -batch runMain` pays ~40 s of sbt/zinc
# startup per invocation — a fresh JVM per main (preflight's sweep and
# Verify, or one query's timing with `SPARK_GRAFT_ONLY=q ... graft.Bench`)
# should not pay that.
#
# The classpath is exported from sbt ONCE and cached; the cache is
# invalidated when build.sbt changes. Compilation is NOT implied — callers
# must have run `sbt compile` first (preflight always has).
#
# Usage: tools/run_main.sh <mainClass> [args...]
set -euo pipefail
cd "$(dirname "$0")/.."

CPFILE=target/graft-runtime-classpath.txt
if [ ! -s "$CPFILE" ] || [ build.sbt -nt "$CPFILE" ]; then
  echo "== run_main: exporting runtime classpath (once) ==" >&2
  sbt -batch "export Runtime/fullClasspath" 2>/dev/null \
    | grep -v '^\[' | grep '/classes' | tail -1 > "$CPFILE"
  [ -s "$CPFILE" ] || { echo "classpath export failed" >&2; exit 1; }
fi

# Stale-class guard: running an audit against bytecode older than the
# sources it claims to audit silently tests the WRONG code. Warn loudly
# (don't fail — iterating on docs/scripts shouldn't force a compile).
# (awk consumes the whole stream — a `sort | head -1` here dies of
# SIGPIPE under this script's pipefail once the file list outgrows one
# pipe buffer, killing the run before java even starts)
SRC_T=$(find src/main/scala -name '*.scala' -printf '%T@\n' 2>/dev/null \
  | awk 'NR==1 || $1>m {m=$1} END {print m}')
# "last successful compile" = newest class file OR the incremental-
# compile stream marker (zinc is content-hashing, so a no-op compile —
# e.g. after a bare `touch` — updates the marker but no .class file)
CLS_T=$(find target/scala-2.13/classes target/streams/compile/compileIncremental \
    \( -name '*.class' -o -name out \) -printf '%T@\n' \
  2>/dev/null | awk 'NR==1 || $1>m {m=$1} END {print m}')
if [ -n "$SRC_T" ] && awk -v s="$SRC_T" -v c="${CLS_T:-0}" \
    'BEGIN { exit !(s > c) }'; then
  echo "run_main: WARNING — a src/main .scala file is newer than every" \
    "compiled class; run 'sbt compile' first or this runs STALE bytecode" >&2
fi

# Mirror build.sbt's jdk17AddOpens + javaOptions exactly.
ADD_OPENS=(
  java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect
  java.base/java.io java.base/java.net java.base/java.nio
  java.base/java.util java.base/java.util.concurrent
  java.base/java.util.concurrent.atomic
  java.base/sun.nio.ch java.base/sun.nio.cs
  java.base/sun.security.action java.base/sun.util.calendar
)
OPENS_ARGS=()
for p in "${ADD_OPENS[@]}"; do OPENS_ARGS+=(--add-opens "$p=ALL-UNNAMED"); done

exec java "${OPENS_ARGS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" \
  -cp "$(cat "$CPFILE")" "$@"
