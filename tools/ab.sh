#!/usr/bin/env bash
# Interleaved A/B of graft.Bench over two or more checkouts of this
# repository (git worktrees or clones, each compiling its own classes).
# All legs of a round run back to back in one host window, and the leg
# order reverses on every other round: on a host whose speed drifts
# within a round, a fixed order would hand the same leg the fast
# window every time. Judge each (leg, query) by its minimum over
# rounds, and keep every round's bench file — each carries its own
# calibration value, so window drift stays inspectable.
#
# Usage: tools/ab.sh <rounds> <name>=<checkout dir> <name>=<checkout dir> [...]
#
# The bench reads its usual environment, for example:
#   SPARK_GRAFT_SF_DIR      corpus to bench (required)
#   SPARK_GRAFT_BENCH_ONLY  comma-separated query subset
#   SPARK_GRAFT_BENCH_REPS  reps per query (default here: 2)
#   SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM
# AB_OUT names the directory for ab_<name>_round<r>.{json,log}
# (default /tmp).
set -uo pipefail
[ $# -ge 3 ] || { echo "usage: $0 <rounds> <name>=<dir> <name>=<dir> [...]" >&2; exit 2; }
: "${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR to the corpus to bench}"
rounds="$1"; shift
legs=("$@")
out="${AB_OUT:-/tmp}"
mkdir -p "$out"
export SPARK_GRAFT_BENCH_REPS="${SPARK_GRAFT_BENCH_REPS:-2}"
for ((round = 1; round <= rounds; round++)); do
  order=("${legs[@]}")
  if ((round % 2 == 0)); then
    order=()
    for ((i = ${#legs[@]} - 1; i >= 0; i--)); do order+=("${legs[i]}"); done
  fi
  for leg in "${order[@]}"; do
    name="${leg%%=*}"; dir="${leg#*=}"
    (cd "$dir" && SPARK_GRAFT_BENCH_OUT="$out/ab_${name}_round${round}.json" \
      sbt -batch "runMain graft.Bench" > "$out/ab_${name}_round${round}.log" 2>&1)
    echo "done $name round$round rc=$?"
  done
done
