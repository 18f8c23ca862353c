#!/usr/bin/env bash
# Plan and oracle identity of the worktree against a base revision.
#
#   tools/identity.sh <base-rev> [out-dir]
#
# Builds a `git archive` copy of <base-rev> under <out-dir>/base, then on
# that copy and on the worktree runs
#   graft.tools.PlanDump <sf0.001> <dir>/plans t all 1   (canonical explains)
#   graft.Verify         <sf0.01>  <dir>/verify           (results + oracle SQL)
# and prints `diff -r` of the two plan dumps, `cmp` of the two
# oracle_sql.json files, and tools/precheck.py (DuckDB oracle check) for
# the worktree, then counts two warnings in the worktree's PlanDump and
# Verify log: `Asked to cache already cached data` (a persist of a plan
# that is already cached) and `already exists on this machine; not
# re-adding it` (two consumers computed one persisted partition). Clean
# diff + equal oracle SQL + "N ok, 0 fail" + both counts 0 means no gate
# plan, oracle query or result moved and no cache was filled twice.
# Last, it prints the gates whose PlanDump jobs/stages/tasks differ
# between the two sides; that table is informational and sets no status.
#
# Environment: TESTDATA (default $HOME/testdata) holds sf0.001 and sf0.01;
# SPARK_GRAFT_CPUS (default 4) and SPARK_DRIVER_MEM (default 4g) size the
# local session. sbt runs offline, as in the tier-1 test command.
set -euo pipefail

base_rev=${1:?usage: tools/identity.sh <base-rev> [out-dir]}
repo=$(git rev-parse --show-toplevel)
out=${2:-$(mktemp -d "${TMPDIR:-/tmp}/identity.XXXXXX")}
data=${TESTDATA:-$HOME/testdata}

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-4}
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-4g}

mkdir -p "$out/base" "$out/work"
rm -rf "$out/base/src" "$out/base/plans" "$out/base/verify" \
  "$out/work/plans" "$out/work/verify"
git -C "$repo" archive "$base_rev" | tar -x -C "$out/base"

# run <checkout> <result-dir>: PlanDump then Verify, logs beside the results
run() {
  local dir=$1 res=$2
  echo "== $dir -> $res" >&2
  (cd "$dir" && sbt --batch -Dsbt.log.noformat=true \
    "runMain graft.tools.PlanDump $data/sf0.001 $res/plans t all 1" \
    "runMain graft.Verify $data/sf0.01 $res/verify") > "$res/run.log" 2>&1 \
    || { echo "sbt failed in $dir, see $res/run.log" >&2; exit 1; }
}
run "$out/base" "$out/base"
run "$repo" "$out/work"

status=0
echo "== diff -r plans ($base_rev vs worktree)"
diff -r "$out/base/plans" "$out/work/plans" && echo "plans identical" || status=1
echo "== cmp oracle_sql.json"
cmp "$out/base/verify/oracle_sql.json" "$out/work/verify/oracle_sql.json" \
  && echo "oracle SQL identical" || status=1
echo "== precheck (worktree)"
python3 "$repo/tools/precheck.py" "$data/sf0.01" "$out/work/verify" | tail -n 3 \
  || status=1
echo "== cache warnings (worktree PlanDump + Verify log)"
for w in "Asked to cache already cached data" \
  "already exists on this machine; not re-adding it"; do
  n=$(grep -c -F "$w" "$out/work/run.log" || true)
  echo "$n  $w"
  [ "$n" -eq 0 ] || status=1
done
echo "== PlanDump jobs/stages/tasks that differ ($base_rev vs worktree; informational)"
# PlanDump's table rows: name min_s jobs stages tasks shufMB inMB
counts() {
  sed 's/^\[info\] //' "$1/run.log" \
    | awk '$1 ~ /^[qx][0-9][0-9]_/ && NF == 7 && $3 ~ /^[0-9]+$/ {print $1, $3 "/" $4 "/" $5}' \
    | LC_ALL=C sort
}
LC_ALL=C join <(counts "$out/base") <(counts "$out/work") | awk '$2 != $3 {print; n++} END {print n + 0, "gates differ"}'
echo "results in $out"
exit $status
