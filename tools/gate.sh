#!/usr/bin/env bash
# Pre-snapshot gate: EVERYTHING the driver will check, one command.
# Run from /root/repo before ANY end-of-round (or milestone) commit:
#
#   bash tools/gate.sh            # full: compile + bench harness + tests + verify + check + bench smoke
#   bash tools/gate.sh --fast     # skip the test suite (verify+check only)
#   bash tools/gate.sh --worlds   # ALSO run the adversarial-world
#                                 # differentials: null-planted payloads,
#                                 # all-empty, facts-empty,
#                                 # pathological-unicode-text,
#                                 # non-finite-embedding,
#                                 # exact-tie/duplicate, extreme-numerics,
#                                 # orphan-key and skew fixtures
#                                 # -> Verify -> check.py --unordered
#                                 # (unordered because the engines
#                                 # disagree on default null placement
#                                 # under ORDER BY; value equality is
#                                 # what the differential proves), plus
#                                 # the layout-invariance sweep; every
#                                 # world is written and dumped by one
#                                 # graft.tools.Worlds JVM per scale.
#
# A round must never end on a commit that hasn't passed this script
# (round 2 shipped a non-compiling HEAD; this is the fix for the
# process, not just the brace).
set -euo pipefail
cd "$(dirname "$0")/.."

FAST=${1:-}

# every temporary conf change goes through graft.config.Sessions.withConf,
# which puts each key back exactly, so no query leaves its session changed
echo "== gate: session conf set only in config/Sessions.scala =="
if grep -rnE '\.conf\.(set|unset)\(' src/main/scala | grep -v '^src/main/scala/graft/config/Sessions.scala:'; then
  echo "GATE FAIL: scope a conf change with graft.config.Sessions.withConf"; exit 1
fi

# every co-purchase basket expansion goes through graft.ops.Joins'
# basketPairs and pairsOf, so the hot-basket policy lives in one place:
# the in-row pair literal (slice(.., i + 2 ..)) and a Spark-side
# hotBasketCap comparison may appear only inside those two defs
echo "== gate: basket pair expansion only in Joins.pairsOf / basketPairs =="
pair_copies=$(find src/main/scala -name '*.scala' -print0 | sort -z | xargs -0 awk '
  FNR == 1 { d = "" }
  match($0, /def [A-Za-z0-9_]+/) { d = substr($0, RSTART + 4, RLENGTH - 4) }
  /slice\([^,]*, *i *\+ *2/ || /[<>]=? *([A-Za-z_][A-Za-z0-9_]*\.)*hotBasketCap/ {
    if (FILENAME !~ /\/graft\/ops\/Joins\.scala$/ || (d != "pairsOf" && d != "basketPairs"))
      print FILENAME ":" FNR ": " $0
  }')
if [[ -n "$pair_copies" ]]; then
  echo "$pair_copies"
  echo "GATE FAIL: expand co-purchase pairs with graft.ops.Joins.basketPairs / pairsOf"; exit 1
fi

echo "== gate: compile (main + test) =="
sbt -batch Test/compile > /tmp/gate_compile.log 2>&1 \
  || { tail -30 /tmp/gate_compile.log; echo "GATE FAIL: compile"; exit 1; }

# the benchmark harness (perfbench/) compiles against the program's
# API and runs its own unit tests, so an API change it depends on
# fails here rather than in the benchmark; Spark's jars are found the
# way perfbench/run.py finds them
echo "== gate: benchmark harness build + unit tests =="
spark_home=${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}
bash perfbench/build.sh /tmp/gate_bench_build "$spark_home/jars" \
  > /tmp/gate_bench_build.log 2>&1 \
  || { tail -30 /tmp/gate_bench_build.log; echo "GATE FAIL: bench harness build"; exit 1; }
PYTHONDONTWRITEBYTECODE=1 python3 -m unittest discover -s perfbench -p 'test_*.py' \
  > /tmp/gate_bench_unit.log 2>&1 \
  || { tail -30 /tmp/gate_bench_unit.log; echo "GATE FAIL: bench harness tests"; exit 1; }
tail -1 /tmp/gate_bench_unit.log

if [[ "$FAST" != "--fast" ]]; then
  echo "== gate: scalatest =="
  sbt -batch test > /tmp/gate_test.log 2>&1 \
    || { grep -E "\*\*\*|FAILED" /tmp/gate_test.log | head -20; echo "GATE FAIL: tests"; exit 1; }
  grep -E "^\[info\] Tests:" /tmp/gate_test.log | tail -1
  # a join whose condition compares one attribute with itself is only
  # right while Dataset.join's self-join rewrite guesses the sides;
  # name each side's columns apart instead
  if grep -q "trivially true equals predicate" /tmp/gate_test.log; then
    grep -m 5 "trivially true equals predicate" /tmp/gate_test.log
    echo "GATE FAIL: self-join condition compares an attribute with itself"; exit 1
  fi
fi

echo "== gate: Verify @ sf0.01 + DuckDB differential =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/gate_vout" > /tmp/gate_verify.log 2>&1 \
  || { tail -30 /tmp/gate_verify.log; echo "GATE FAIL: Verify run"; exit 1; }
python3 tools/check.py /root/testdata/sf0.01 /tmp/gate_vout | tail -3
python3 tools/check.py /root/testdata/sf0.01 /tmp/gate_vout | tail -1 | grep -q " 0 fail" \
  || { echo "GATE FAIL: oracle mismatch"; exit 1; }

if [[ "$FAST" == "--worlds" ]]; then
  # graft.tools.Worlds writes each named world to /tmp/gate_worlds/<w>
  # and dumps it with Verify into /tmp/gate_worlds/<w>.out, all in one
  # session: one JVM per source scale
  run_worlds() {  # <src sf dir> <world>...
    local sf=$1; shift
    local log="/tmp/gate_worlds_$(basename "$sf").log"
    echo "== gate: worlds $* @ $(basename "$sf") =="
    sbt -batch "runMain graft.tools.Worlds $sf /tmp/gate_worlds $*" > "$log" 2>&1 \
      || { tail -30 "$log"; echo "GATE FAIL: world gen or Verify @ $(basename "$sf")"; exit 1; }
  }
  # orphan world de-vacuizes join_anti / sql_tpch_q22 (the driver's
  # saturated fixtures make both return 0 rows — a 0=0 hash match
  # proves nothing about the predicates)
  run_worlds /root/testdata/sf0.01 \
    null empty facts unicode nonfinite tie numerics orphan layout
  # skew runs at sf0.1, not sf0.01: the planted boilerplate only crosses
  # the hot-shingle df-cap (50 per source) from sf0.1 upward — below
  # that the cap is latent and the world tests nothing the clean
  # differential doesn't. Slowest world (~26 min on a 4-core VM: ~20
  # for the sf0.1 gen + Verify, ~6 for the DuckDB shingle CTEs at 50k
  # docs).
  run_worlds /root/testdata/sf0.1 skew

  for w in null empty facts unicode nonfinite tie numerics orphan skew; do
    echo "== gate: $w-world differential =="
    python3 tools/check.py "/tmp/gate_worlds/$w" "/tmp/gate_worlds/$w.out" --unordered \
      > "/tmp/gate_check_$w.log"
    tail -2 "/tmp/gate_check_$w.log"
    tail -1 "/tmp/gate_check_$w.log" | grep -q " 0 fail" \
      || { echo "GATE FAIL: $w-world oracle mismatch"; exit 1; }
  done

  # layout world is NOT an oracle differential (both engines read the
  # same layout, so engine agreement can't see layout sensitivity) —
  # it's Spark-vs-Spark: same data, 7-file hash-scrambled rewrite, and
  # every query's row multiset must be BIT-EQUAL to the standard
  # /tmp/gate_vout dump (declared merge-order-sensitive sketches are
  # NOTEd, not failed — see tools/layout_check.py SENSITIVE).
  echo "== gate: layout-invariance sweep @ sf0.01 =="
  python3 tools/layout_check.py /tmp/gate_vout /tmp/gate_worlds/layout.out \
    > /tmp/gate_check_layout.log \
    || { grep "^FAIL" /tmp/gate_check_layout.log | head -5;
         echo "GATE FAIL: layout sensitivity"; exit 1; }
  tail -2 /tmp/gate_check_layout.log
fi

echo "== gate: Bench contract smoke @ sf0.001 =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 SPARK_GRAFT_BENCH_FILE=/tmp/gate_bench.json \
  sbt -batch "runMain graft.Bench" > /tmp/gate_bench.log 2>&1 \
  || { tail -30 /tmp/gate_bench.log; echo "GATE FAIL: Bench run"; exit 1; }
python3 - <<'EOF'
import json
b = json.load(open("/tmp/gate_bench.json"))
assert b["n_err"] == 0, f"Bench errors: {b['errors']}"
print(f"bench ok: total={b['value']}s, {len(b['queries'])} queries, 0 errors")
EOF

echo "GATE PASS"
