#!/bin/bash
# Seed-paired, order-alternated A/B of the repository benchmark: runs
# `perfbench/run.py --trace 0` once in a parent checkout and once in this
# one for every seed, the parent first on odd-numbered pairs and this
# checkout first on even ones, then prints for each end-to-end metric of
# BENCHMARK.json each side's median [q1, q3], the pairs this checkout
# wins, the median of the per-pair ratios (this / parent) and whether the
# median gap exceeds the parent's interquartile range.
# Usage: tools/perfbench_ab.sh <parent-checkout> <workload> <seed>...
# Needs SPARK_HOME, like perfbench/run.py. A run that fails stops the
# script. The per-run JSON lines are kept in the file named at the end.
set -euo pipefail
if [ $# -lt 3 ]; then
  echo "usage: $0 <parent-checkout> <workload> <seed>..." >&2
  exit 2
fi
PARENT="$(cd "$1" && pwd)"; WORKLOAD="$2"; shift 2
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
SECONDS_PER_RUN=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$ROOT/BENCHMARK.json")
RESULTS="$(mktemp "${TMPDIR:-/tmp}/perfbench_ab_${WORKLOAD}_XXXXXX")"

run_one() {  # $1 = side (parent|change), $2 = checkout, $3 = seed
  local line
  if ! line=$(cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$3" \
      --seconds "$SECONDS_PER_RUN" --trace 0 2>/dev/null | tail -1) || [ "${line:0:1}" != "{" ]; then
    echo "FATAL: the $1 run of seed $3 failed or printed no result line" >&2
    exit 1
  fi
  echo "{\"side\": \"$1\", \"seed\": $3, \"result\": $line}" >> "$RESULTS"
  echo "seed $3 $1: $line"
}

pair=0
for seed in "$@"; do
  pair=$((pair + 1))
  if [ $((pair % 2)) -eq 1 ]; then
    run_one parent "$PARENT" "$seed"; run_one change "$ROOT" "$seed"
  else
    run_one change "$ROOT" "$seed"; run_one parent "$PARENT" "$seed"
  fi
done

python3 - "$RESULTS" "$ROOT/BENCHMARK.json" "$WORKLOAD" <<'EOF'
import json, statistics, sys

results, bench, workload = sys.argv[1], json.load(open(sys.argv[2])), sys.argv[3]
runs = {}
for line in open(results):
    r = json.loads(line)
    runs.setdefault(r["seed"], {})[r["side"]] = r["result"]
seeds = sorted(runs)

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

print(f"{workload}: {len(seeds)} seed pairs ({', '.join(map(str, seeds))})")
print(f"{'metric':14s} {'parent median [q1, q3]':28s} {'change median [q1, q3]':28s}"
      f" {'wins':>6s} {'ratio':>7s}  gap > parent IQR")
for m in bench["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    p = [runs[s]["parent"]["metrics"][name]["value"] for s in seeds]
    c = [runs[s]["change"]["metrics"][name]["value"] for s in seeds]
    wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
    ratio = statistics.median(b / a for a, b in zip(p, c))
    (p1, pm, p3), (c1, cm, c3) = quartiles(p), quartiles(c)
    gap = (pm - cm) if lower else (cm - pm)
    print(f"{name:14s} {pm:9.3f} [{p1:7.3f}, {p3:7.3f}]   {cm:9.3f} [{c1:7.3f}, {c3:7.3f}]  "
          f" {wins:2d}/{len(seeds):<2d} {ratio:7.3f}  {'yes' if gap > p3 - p1 else 'no'}")
for side in ("parent", "change"):
    failed = sum(runs[s][side]["failed"] for s in seeds)
    attempted = sum(runs[s][side]["attempted"] for s in seeds)
    wrong = [s for s in seeds if not runs[s][side]["correct"]]
    print(f"{side}: {failed} of {attempted} operations failed; incorrect runs: {wrong or 'none'}")
EOF
echo "per-run results: $RESULTS"
