#!/bin/bash
# Alternating A/B runs of the repository benchmark from two checkouts.
#
# Usage: dev/ab.sh <parentDir> <changeDir> <workload> <seed...>
# Env:   AB_LOG  file that gets one JSON line per run (default: a new temp
#                file; its path is printed at the end)
#
# For each seed it runs `python3 perfbench/run.py --trace 0` once in each
# checkout for the change's BENCHMARK.json `run_seconds`, the parent first
# on odd seeds and the change first on even ones, so drift over the
# sequence of runs falls on both sides alike. It then
# prints, for every end-to-end metric of the change's BENCHMARK.json, each
# side's median and quartiles, and in how many pairs the change was
# better. A run that exits non-zero is logged with a null result and
# counted as failed; a pair counts only when both runs are correct and
# have no failed operations. Nothing under perfbench/ is changed.
set -uo pipefail
if [ $# -lt 4 ]; then
  echo "usage: dev/ab.sh <parentDir> <changeDir> <workload> <seed...>" >&2
  exit 2
fi
parent=$(cd "$1" && pwd) || exit 2
change=$(cd "$2" && pwd) || exit 2
workload=$3
shift 3
log=${AB_LOG:-$(mktemp -t ab-XXXXXX.jsonl)}
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$change/BENCHMARK.json") || exit 2

run() { # <side> <checkout> <seed>
  local line
  line=$(cd "$2" && python3 perfbench/run.py --workload "$workload" \
    --seed "$3" --seconds "$seconds" --trace 0 | tail -n 1)
  [ $? -eq 0 ] && [ -n "$line" ] || line=null
  echo "{\"side\": \"$1\", \"seed\": $3, \"result\": $line}" >> "$log"
  echo "[ab] $workload seed $3 $1: $line" >&2
}

for seed in "$@"; do
  if (( seed % 2 )); then
    run parent "$parent" "$seed"; run change "$change" "$seed"
  else
    run change "$change" "$seed"; run parent "$parent" "$seed"
  fi
done

python3 - "$log" "$change/BENCHMARK.json" <<'EOF'
import json, statistics, sys

log, bench = sys.argv[1], sys.argv[2]
runs = [json.loads(l) for l in open(log) if l.strip()]
specs = json.load(open(bench))["end_to_end"]

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

by_seed = {}
for r in runs:
    by_seed.setdefault(r["seed"], {})[r["side"]] = r["result"]
for side in ("parent", "change"):
    res = [s.get(side) for s in by_seed.values()]
    bad = sum(1 for x in res if x is None or not x["correct"] or x["failed"])
    print(f"{side}: {len(res)} runs, {bad} incorrect or with failed operations")
pairs = [s for s in by_seed.values()
         if all(s.get(k) and s[k]["correct"] and not s[k]["failed"]
                for k in ("parent", "change"))]
print(f"{len(pairs)} complete pairs; log {log}")
if not pairs:
    sys.exit(1)
print(f"{'metric':14} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30}"
      f" {'delta':>8} {'change better':>14}")
for m in specs:
    name, lower = m["name"], m["better"] == "lower"
    p = [s["parent"]["metrics"][name]["value"] for s in pairs]
    c = [s["change"]["metrics"][name]["value"] for s in pairs]
    (p1, pm, p3), (c1, cm, c3) = quartiles(p), quartiles(c)
    won = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
    delta = (cm - pm) / pm * 100 if pm else float("nan")
    print(f"{name:14} {pm:10.3f} [{p1:8.3f}, {p3:8.3f}] {cm:10.3f} [{c1:8.3f},"
          f" {c3:8.3f}] {delta:+7.1f}% {won:>8} of {len(pairs)}")
EOF
