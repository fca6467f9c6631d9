#!/bin/bash
# Sequential measurement battery for one round — run alone (no sbt, no
# probes mid-battery: anything else on the box contaminates the timings).
# Order: full self-gate -> full bench replica on the final tree -> forked
# 10x sweeps (docs, then warehouse) with SPARK_GRAFT_BENCH_STEADY=3 and
# in-band work-mass counters -> incremental oracle floor for the queries
# the round touched -> plan dumps. Every artifact flushes per query.
#
# Usage: DATA=<testdata root with sf0.01/ and sf0.1/> SPARK_HOME=<spark dir> \
#        tools/battery.sh ROUND
#
# ROUND tags every artifact: bench_local_r<ROUND>.json,
# SCALING_r<ROUND>.json, SCALING_WH_r<ROUND>.json,
# oracle_floor_r<ROUND>_incremental.json and plans/r<ROUND>/.
# Inputs under $WORK (default /tmp), one whitespace-separated list each:
#   docs_list.txt, wh_list.txt   queries of the docs / warehouse sweeps
#   floor_list.txt               queries of the incremental oracle floor
#   plandump_list.txt            comma-separated queries to plan-dump
#                                (step skipped when absent)
#   touched_list.txt             plan dumps saved as <q>_after.txt
# The 10x data dirs are $SF1DOCS and $SF1WH (default $WORK/sf1docs and
# $WORK/sf1wh; see tools/make_sf1*.py). WM_DOCS / WM_WH override the
# work-mass query lists.
set -u
ROUND=${1:?usage: DATA=<testdata root> tools/battery.sh ROUND}
: "${DATA:?set DATA to the testdata root holding sf0.01/ and sf0.1/}"
: "${SPARK_HOME:?set SPARK_HOME to the Spark distribution}"
WORK=${WORK:-/tmp}
SF1DOCS=${SF1DOCS:-$WORK/sf1docs}
SF1WH=${SF1WH:-$WORK/sf1wh}
WM_DOCS=${WM_DOCS:-"q25_ngram_jaccard_pairs q54_boilerplate q87_shared_spans \
q159_lm_score q223_containment_sample q27_simhash q97_setsim_join \
q201_equality_deletes"}
WM_WH=${WM_WH:-"q05_disjunctive_join q75_editdist_pairs q108_entity_resolution"}
R=r$ROUND
cd "$(dirname "$0")/.."
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED \
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
JAVA="java $ADD_OPENS -cp target/scala-2.13/classes:$SPARK_HOME/jars/*"

echo "== [1/6] full self-gate (Verify sf0.01 + DuckDB compare) $(date -u +%H:%M:%S)"
$JAVA graft.Verify "$DATA/sf0.01" "$WORK/verify_${R}_full" \
  > "$WORK/verify_${R}_full.log" 2>&1
python3 tools/check_oracle.py "$DATA/sf0.01" "$WORK/verify_${R}_full" \
  > "$WORK/check_${R}_full.log" 2>&1
tail -2 "$WORK/check_${R}_full.log"

echo "== [2/6] full bench replica at sf0.1 (one JVM, all queries) $(date -u +%H:%M:%S)"
SPARK_GRAFT_SF_DIR="$DATA/sf0.1" \
SPARK_GRAFT_BENCH_OUT="bench_local_${R}.json" \
$JAVA graft.Bench > "$WORK/bench_${R}_stdout.log" 2> "$WORK/bench_${R}.log"
tail -1 "$WORK/bench_${R}_stdout.log"

# sweep KIND SF1_DIR SCALING_JSON QUERIES WORK_MASS_QUERIES
sweep() {
  local kind=$1 sf1=$2 scaling=$3 queries=$4 wm=$5
  bash tools/sweep_forked.sh "$DATA/sf0.1" "$WORK/${kind}_sf01_${R}.json" $queries \
    > "$WORK/sweep_${kind}_sf01.log" 2>&1
  tail -1 "$WORK/sweep_${kind}_sf01.log"
  bash tools/sweep_forked.sh "$sf1" "$WORK/${kind}_sf1_${R}.json" $queries \
    > "$WORK/sweep_${kind}_sf1.log" 2>&1
  tail -1 "$WORK/sweep_${kind}_sf1.log"
  $JAVA graft.WorkMass "$DATA/sf0.1" "$WORK/wm_${kind}_sf01.json" $wm \
    > "$WORK/wm_${kind}_sf01.log" 2>&1
  $JAVA graft.WorkMass "$sf1" "$WORK/wm_${kind}_sf1.json" $wm \
    > "$WORK/wm_${kind}_sf1.log" 2>&1
  local tag
  tag=$(basename "$sf1")
  python3 tools/combine_scaling.py "$scaling" \
    sf0.1="$WORK/${kind}_sf01_${R}.json" "$tag=$WORK/${kind}_sf1_${R}.json" \
    wm:sf0.1="$WORK/wm_${kind}_sf01.json" "wm:$tag=$WORK/wm_${kind}_sf1.json"
}

echo "== [3/6] docs sweep, forked per query (sf0.1 then 10x, STEADY=3) $(date -u +%H:%M:%S)"
sweep docs "$SF1DOCS" "SCALING_${R}.json" "$(cat "$WORK/docs_list.txt")" "$WM_DOCS"

echo "== [4/6] warehouse sweep, forked per query (sf0.1 then 10x, STEADY=3) $(date -u +%H:%M:%S)"
sweep wh "$SF1WH" "SCALING_WH_${R}.json" "$(cat "$WORK/wh_list.txt")" "$WM_WH"

echo "== [5/6] incremental oracle floor (touched queries + spot checks) $(date -u +%H:%M:%S)"
python3 - "$WORK/verify_${R}_full/oracle_sql.json" "$WORK/floor_list.txt" \
  "$WORK/oracle_sql_${R}_subset.json" <<'EOF'
import json, sys
full = json.load(open(sys.argv[1]))
keep = open(sys.argv[2]).read().split()
subset = {k: full[k] for k in keep if k in full}
json.dump(subset, open(sys.argv[3], 'w'))
print(f"floor subset: {len(subset)} oracles")
EOF
python3 tools/bench_oracle.py "$DATA/sf0.1" \
  "$WORK/oracle_sql_${R}_subset.json" "oracle_floor_${R}_incremental.json" \
  > "$WORK/oracle_floor_${R}.log" 2>&1
tail -1 "oracle_floor_${R}_incremental.json" | head -c 400; echo

echo "== [6/6] plan dumps on the final tree -> plans/${R} $(date -u +%H:%M:%S)"
if [ -f "$WORK/plandump_list.txt" ]; then
  mkdir -p "plans/${R}"
  SPARK_GRAFT_ONLY=$(cat "$WORK/plandump_list.txt") \
  $JAVA graft.PlanDump "$DATA/sf0.1" "$WORK/plans_${R}_after" \
    > "$WORK/plandump_${R}.log" 2>&1
  touched=" $(cat "$WORK/touched_list.txt" 2>/dev/null) "
  for f in "$WORK/plans_${R}_after"/*.txt; do
    q=$(basename "$f" .txt)
    case "$touched" in
      *" $q "*) cp "$f" "plans/${R}/${q}_after.txt" ;;
      *)        cp "$f" "plans/${R}/${q}.txt" ;;
    esac
  done
  ls "plans/${R}" | wc -l
else
  echo "no $WORK/plandump_list.txt: skipped"
fi
echo "== battery done $(date -u +%H:%M:%S)"
