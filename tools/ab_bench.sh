#!/bin/bash
# One-JVM-per-run interleaved A/B bench: HEAD classes vs an alternate
# classes dir (e.g. a worktree build of a prior round). Each run prints
# Bench's single JSON line; we tag it with the arm and run index.
# Usage: tools/ab_bench.sh <alt-classes-dir> <out.jsonl> [runs-per-arm]
set -e
ALT="$1"; OUT="$2"; RUNS="${3:-3}"
# the repository root, from this script's own location (works on any copy)
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED \
--add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
--add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
--add-opens=java.base/java.io=ALL-UNNAMED \
--add-opens=java.base/java.net=ALL-UNNAMED \
--add-opens=java.base/java.nio=ALL-UNNAMED \
--add-opens=java.base/java.util=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
--add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
--add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
--add-opens=java.base/sun.security.action=ALL-UNNAMED \
--add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
: > "$OUT"
run_one() {  # $1 = arm name, $2 = classes dir
  local line
  line=$(java $OPENS -Xmx8g -Dspark.ui.enabled=false \
    -Dspark.sql.session.timeZone=UTC \
    -cp "$2:$ROOT/src/main/resources:/opt/spark/jars/*" \
    graft.Bench 2>/dev/null | grep '"metric"' | tail -1)
  # fail LOUDLY if the run produced no JSON (bad classpath, crash):
  # a silent half-line would poison the A/B instead of aborting it
  if [ -z "$line" ]; then
    echo "FATAL: bench run for arm '$1' ($2) emitted no JSON" >&2
    exit 1
  fi
  echo "{\"arm\":\"$1\",$( echo "$line" | cut -c2- )" >> "$OUT"
}
sleep 45   # let the box cool before the first timed run
for i in $(seq 1 "$RUNS"); do
  run_one head "$ROOT/target/scala-2.13/classes"
  run_one alt  "$ALT"
done
echo DONE >> "$OUT"
