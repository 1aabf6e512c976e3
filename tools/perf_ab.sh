#!/usr/bin/env bash
# Interleaved A/B of the repo's benchmark: a parent revision against the
# working tree.
#
#   bash tools/perf_ab.sh <parent-rev> <workload> <seed>...
#
# Run from the repository root. The parent's committed files are
# exported (git archive) into a fresh directory under ${TMPDIR:-/tmp};
# each seed is one pair of `python3 perfbench/run.py --workload W
# --seed S --seconds <run_seconds> --trace 0` runs, one per tree, the
# parent first on even pairs and the change first on odd ones, so a
# drifting host loads both sides alike. Prints each run's correct and
# failed counts, then per end-to-end metric of BENCHMARK.json: both
# medians, the parent's quartiles, the pairs the change won and a
# verdict: `gain` when the change wins at least 9 in 10 pairs and its
# median beats the parent's by more than the parent's q3 - q1, `worse`
# when its median is worse than the parent's by more than the metric's
# `bound` (a fraction of the parent's median), `—` otherwise. Each
# run's log and result line stay in the printed output directory.
set -euo pipefail

if [ $# -lt 3 ]; then
  echo "usage: bash tools/perf_ab.sh <parent-rev> <workload> <seed>..." >&2
  exit 2
fi
rev=$1 workload=$2
shift 2
change=$(pwd)
[ -f "$change/perfbench/run.py" ] || { echo "run from the repository root" >&2; exit 2; }
seconds=$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')

out=$(mktemp -d "${TMPDIR:-/tmp}/perf_ab.XXXXXX")
parent="$out/parent"
mkdir "$parent"
git archive "$rev" | tar -x -C "$parent"
echo "parent $(git rev-parse --short "$rev") in $parent; change is $change; runs in $out" >&2

run() {  # side seed
  local dir=$1 side=$2 seed=$3
  local log="$out/$side-$seed.log"
  (cd "$dir" && python3 perfbench/run.py --workload "$workload" --seed "$seed" \
     --seconds "$seconds" --trace 0) >"$log" 2>&1 || true
  local line
  line=$(grep '^{' "$log" | tail -n 1 || true)
  echo "{\"side\": \"$side\", \"seed\": $seed, \"result\": ${line:-null}}" >>"$out/runs.jsonl"
  echo "$side seed $seed: ${line:-no result line, see $log}" | cut -c1-160 >&2
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run "$parent" parent "$seed"; run "$change" change "$seed"
  else
    run "$change" change "$seed"; run "$parent" parent "$seed"
  fi
  i=$((i + 1))
done

python3 - "$out/runs.jsonl" <<'EOF'
import json, statistics, sys

runs = [json.loads(l) for l in open(sys.argv[1])]
spec = json.load(open("BENCHMARK.json"))["end_to_end"]
by = {(r["side"], r["seed"]): r["result"] for r in runs}
seeds = sorted({r["seed"] for r in runs})
print("seed   parent correct/failed   change correct/failed")
for s in seeds:
    cells = []
    for side in ("parent", "change"):
        r = by.get((side, s))
        cells.append("no result" if r is None else f"{r['correct']!s:>5} {r['failed']}/{r['attempted']}")
    print(f"{s:<6} {cells[0]:<23} {cells[1]}")
print(f"{'metric':<18} {'parent':>9} {'change':>9} {'delta':>8} {'parent q1..q3':>17}  wins  verdict")
for m in spec:
    name, lower = m["name"], m["better"] == "lower"
    pairs = [(by[("parent", s)]["metrics"][name]["value"], by[("change", s)]["metrics"][name]["value"])
             for s in seeds
             if by.get(("parent", s)) and by.get(("change", s))
             and name in by[("parent", s)]["metrics"] and name in by[("change", s)]["metrics"]]
    if not pairs:
        print(f"{name:<18} no complete pair")
        continue
    p, c = [a for a, _ in pairs], [b for _, b in pairs]
    pm, cm = statistics.median(p), statistics.median(c)
    q = statistics.quantiles(p, n=4, method="inclusive") if len(p) > 1 else [p[0]] * 3
    wins = sum((b < a) if lower else (b > a) for a, b in pairs)
    delta = f"{(cm - pm) / pm:+.1%}" if pm else "n/a"
    gain = (pm - cm) if lower else (cm - pm)
    if 10 * wins >= 9 * len(pairs) and gain > q[2] - q[0]:
        verdict = "gain"
    elif -gain > m["bound"] * abs(pm):
        verdict = "worse"
    else:
        verdict = "—"
    wl = f"{wins}/{len(pairs)}"
    print(f"{name:<18} {pm:9.4f} {cm:9.4f} {delta:>8} {q[0]:8.3f}..{q[2]:<8.3f} {wl:>5}  {verdict}")
EOF
echo "runs kept in $out" >&2
