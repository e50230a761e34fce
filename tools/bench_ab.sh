#!/bin/bash
# Same-window A/B of the repository benchmark (perfbench, BENCHMARK.json)
# between a git revision and the working tree.
#
# Usage: bash tools/bench_ab.sh <git-rev> [workload] [seed ...]
#   workload  etl_load (default) or ext_ops
#   seed ...  one run per seed and side (default: 1 2 3 4 5)
#
# <git-rev> is exported with `git archive` into a fresh temporary directory,
# so its build (.bench_build/) never touches the working tree's. For every
# seed the script runs
#   python3 perfbench/run.py --workload W --seed S --seconds 16 --trace 0
# once in that copy ("base") and once in the working tree ("work"),
# alternating which side goes first, so both sides share the host's load.
# It then prints per-side medians of setup_s, pass_cpu_s and each
# operation's op_cpu_s (each run's median over its timed passes), the
# per-pair pass_cpu_s and how many pairs the working tree won.
# Each run's stdout is kept as <tmp>/<side>-<seed>.out; the path is printed.
set -euo pipefail
REV="${1:?usage: bash tools/bench_ab.sh <git-rev> [workload] [seed ...]}"
WORKLOAD="${2:-etl_load}"
shift $(( $# < 2 ? $# : 2 ))
SEEDS=("$@")
[ ${#SEEDS[@]} -gt 0 ] || SEEDS=(1 2 3 4 5)

WORK="$(git rev-parse --show-toplevel)"
OUT="$(mktemp -d "${TMPDIR:-/tmp}/bench-ab.XXXXXX")"
BASE="$OUT/base"
mkdir -p "$BASE"
git -C "$WORK" archive "$REV" | tar -x -C "$BASE"
# the exported tree and its build are large; the results are kept
trap 'rm -rf "$BASE"' EXIT
echo "[ab] $REV -> $BASE; results in $OUT"

run() { # side dir seed
  echo "[ab] $1 seed $3 ($(date +%H:%M:%S))"
  (cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$3" \
    --seconds 16 --trace 0 >"$OUT/$1-$3.out" 2>>"$OUT/$1.log") ||
    echo "[ab] $1 seed $3 exited with $?; see $OUT/$1.log"
}

i=0
for seed in "${SEEDS[@]}"; do
  if [ $((i % 2)) -eq 0 ]; then run base "$BASE" "$seed"; run work "$WORK" "$seed"
  else run work "$WORK" "$seed"; run base "$BASE" "$seed"; fi
  i=$((i + 1))
done

python3 - "$OUT" "${SEEDS[@]}" <<'EOF'
import json, os, statistics, sys

out, seeds = sys.argv[1], sys.argv[2:]
runs = {"base": {}, "work": {}}
for side in runs:
    for s in seeds:
        merged = {}
        path = os.path.join(out, f"{side}-{s}.out")
        for line in open(path) if os.path.exists(path) else []:
            if line.startswith("{"):
                merged.update(json.loads(line))
        runs[side][s] = merged

def fig(run, name):
    if name in ("setup_s", "pass_cpu_s"):
        return run.get("metrics", {}).get(name, {}).get("value")
    cpu = run.get("diagnostics", {}).get("op_cpu_s", {}).get(name)
    return statistics.median(cpu) if cpu else None

def med(side, name):
    xs = [x for x in (fig(r, name) for r in runs[side].values()) if x is not None]
    return (statistics.median(xs), len(xs)) if xs else (float("nan"), 0)

ops = sorted({op for side in runs.values() for r in side.values()
              for op in r.get("diagnostics", {}).get("op_cpu_s", {})})
names = ["setup_s", "pass_cpu_s"] + ops
labels = [n if n in ("setup_s", "pass_cpu_s") else f"op_cpu_s[{n}]" for n in names]
width = max(map(len, labels)) + 2
print(f"{'metric':<{width}}{'base':>10}{'work':>10}{'change':>9}   runs")
for name, label in zip(names, labels):
    (b, nb), (w, nw) = med("base", name), med("work", name)
    print(f"{label:<{width}}{b:>10.3f}{w:>10.3f}{(w / b - 1) * 100 if b else 0:>+8.1f}%   {nb}/{nw}")

pairs = [(s, fig(runs["base"][s], "pass_cpu_s"), fig(runs["work"][s], "pass_cpu_s"))
         for s in runs["base"] if s in runs["work"]]
pairs = [p for p in pairs if p[1] is not None and p[2] is not None]
print("pass_cpu_s pairs (seed base/work): " +
      ", ".join(f"{s} {b:.2f}/{w:.2f}" for s, b, w in pairs))
print(f"work lower on {sum(w < b for _, b, w in pairs)} of {len(pairs)} pairs")
bad = [(side, s) for side in runs for s, r in runs[side].items()
       if not r.get("correct") or r.get("failed", 1) != 0]
print("all runs correct, failed 0" if not bad else f"NOT correct or failed ops: {bad}")
EOF
