#!/usr/bin/env bash
# Cross-commit, SAME-HOST A/B bench: adjudicate a regression flag by running
# the PRIOR BUILD and the current build interleaved on one machine, in
# alternating JVMs, min-of-all-runs grain. This is the adjudicator the
# artifact-vs-artifact compare pass (Bench's "regressions" block) cannot be:
# a prior ARTIFACT may come from a different host, but a prior BUILD runs
# right here, now, between the current build's own runs.
#
#   usage: tools/ab_bench.sh <prior-git-ref> <q1,q2,...> [rounds] [iters] [sfdir] [out]
#     rounds  interleaved (prior, current) JVM pairs        (default 3)
#     iters   Bench iterations per query inside each JVM    (default 2)
#     sfdir   data directory                                 (default /root/testdata/sf0.1)
#     out     result artifact path                           (default <repo>/BENCH_AB.json)
#
# Bench's compare pass marks an over-band regression "suspect" and names
# this command under "adjudicate" in BENCH_LOCAL.json; the prior ref is the
# commit that produced the prior artifact.
#
# Mechanics:
#  - The prior build compiles in a detached git worktree, so the MEASURED
#    query code is the prior commit's, byte-for-byte. Its Bench must read
#    the SPARK_GRAFT_ONLY query filter (every commit since 9bcce09 does).
#  - Each JVM leg runs in its own empty scratch cwd, so neither harness can
#    discover a BENCH_LOCAL.json / BENCH_r*.json prior (no widen-rule or
#    compare-pass asymmetry between legs), and each writes its artifact there.
#  - Legs alternate prior/current per round so a co-tenant load burst lands
#    on both builds, not one.
#  - The aggregator takes each build's MIN over all its runs per query
#    (min-grain is the compare pass's own grain) and prints a verdict:
#    real if cur_min > 1.15 x prior_min and the delta is >= 0.1 s, else flat.
#    Result written to BENCH_AB.json in the repo root.
set -euo pipefail

REF="${1:?usage: ab_bench.sh <prior-ref> <q1,q2,...> [rounds] [iters] [sfdir]}"
QUERIES="${2:?query list required (comma-separated, short or full names)}"
ROUNDS="${3:-3}"
ITERS="${4:-2}"
SFDIR="${5:-/root/testdata/sf0.1}"
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"  # Bench's own default: every core
MEM="${SPARK_DRIVER_MEM:-8g}"

REPO="$(cd "$(dirname "$0")/.." && pwd)"
OUT="${6:-$REPO/BENCH_AB.json}"
SHORTREF="$(git -C "$REPO" rev-parse --short "$REF")"
git -C "$REPO" grep -q SPARK_GRAFT_ONLY "$REF" -- src/main/scala/graft/Bench.scala \
  || { echo "[ab] $REF's Bench.scala lacks the SPARK_GRAFT_ONLY filter (added in 9bcce09); pick a later prior ref" >&2; exit 1; }

WT="/tmp/graft_ab_${SHORTREF}"
SCRATCH="/tmp/graft_ab_runs_$$"
mkdir -p "$SCRATCH"

# Spark 4.x on JDK 17 outside spark-submit: same add-opens as build.sbt.
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done

if [ ! -d "$WT" ]; then
  echo "[ab] adding worktree for $REF at $WT"
  git -C "$REPO" worktree add --detach "$WT" "$REF"
fi
echo "[ab] compiling prior build ($REF)"
(cd "$WT" && sbt -batch compile >"$SCRATCH/prior_compile.log" 2>&1) \
  || { tail -20 "$SCRATCH/prior_compile.log"; exit 1; }
echo "[ab] compiling current build"
(cd "$REPO" && sbt -batch compile >"$SCRATCH/cur_compile.log" 2>&1) \
  || { tail -20 "$SCRATCH/cur_compile.log"; exit 1; }

run_leg() { # $1 = leg name (prior|current), $2 = classes dir, $3 = round no
  local dir="$SCRATCH/$1-r$3"
  mkdir -p "$dir"
  # SPARK_GRAFT_AUTO_AB=0 and SPARK_GRAFT_MEM_SENTINEL=0 reach only prior
  # builds whose Bench predates their removal: without them such a leg
  # runs the heavy hash-agg sentinel (and its own A/B) that the current
  # leg no longer runs.
  (cd "$dir" && \
    SPARK_GRAFT_ONLY="$QUERIES" SPARK_GRAFT_ITERS="$ITERS" \
    SPARK_GRAFT_ITERS_SUB1="$ITERS" SPARK_GRAFT_SF_DIR="$SFDIR" \
    SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_OUT="BENCH_LOCAL.json" \
    SPARK_GRAFT_AUTO_AB=0 SPARK_GRAFT_MEM_SENTINEL=0 \
    java $ADD_OPENS -Xmx"$MEM" -Dspark.ui.enabled=false \
      -Dspark.sql.session.timeZone=UTC \
      -cp "/opt/spark/jars/*:$2" graft.Bench \
      >"$dir/stdout.log" 2>"$dir/stderr.log") \
  || { echo "[ab] $1 round $3 FAILED"; tail -5 "$dir/stderr.log"; exit 1; }
  echo "[ab] $1 round $3 done: $(tail -1 "$dir/stdout.log" | cut -c1-120)"
}

# Leg order ALTERNATES per round: a fixed (prior, current) order biases
# against the second leg under monotonically ramping co-tenant load —
# observed round 16 (sentinels 0.37→0.63 across one run); alternation
# puts each build first in half the rounds so a ramp hits both equally.
for r in $(seq 1 "$ROUNDS"); do
  if [ $((r % 2)) -eq 1 ]; then
    run_leg prior   "$WT/target/scala-2.13/classes"   "$r"
    run_leg current "$REPO/target/scala-2.13/classes" "$r"
  else
    run_leg current "$REPO/target/scala-2.13/classes" "$r"
    run_leg prior   "$WT/target/scala-2.13/classes"   "$r"
  fi
done

python3 "$REPO/tools/ab_aggregate.py" "$SCRATCH" "$ROUNDS" "$REF" "$OUT"
