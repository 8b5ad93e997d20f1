#!/bin/bash
# One-command order-of-magnitude scaling datapoint (BASELINE.md "sf1.0
# scaling" section): amplify sf0.1 10x with graft.ScaleUp (idempotent —
# the _SCALED marker skips regeneration), then bench the per-family
# Headline query set against it. The log10 ratio of a query's sf1.0
# seconds to its sf0.1 seconds is the family's scaling exponent (1.0 =
# linear; super-linear flags an O(n^2)-in-disguise candidate set). Take
# the sf0.1 side from a SPARK_GRAFT_HEADLINE=1 Bench run of the same
# code. (Historical: rounds 14-19 compared against the sf0.1 floors in
# bench_baseline.json, which is no longer updated.)
#
# Usage: scripts/bench_sf1.sh  [outputs bench_out.json for the sf1 dir]
# Env:   SPARK_GRAFT_SF1_DIR (default /tmp/graft_sf1)
#        SPARK_GRAFT_SF1_FACTOR (default 10)
#        SPARK_GRAFT_BENCH_PASSES (default 1 here: at sf1.0 a single
#        pass per query is ~minutes of work; host-burst noise amortizes
#        inside each query instead of across passes)
set -euo pipefail
cd "$(dirname "$0")/.."

DIR="${SPARK_GRAFT_SF1_DIR:-/tmp/graft_sf1}"
FACTOR="${SPARK_GRAFT_SF1_FACTOR:-10}"

if [ ! -f "$DIR/_SCALED" ]; then
  sbt -batch "runMain graft.ScaleUp /root/testdata/sf0.1 $DIR $FACTOR"
fi

SPARK_GRAFT_SF_DIR="$DIR" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
SPARK_GRAFT_SHUFFLE="${SPARK_GRAFT_SHUFFLE:-64}" \
SPARK_GRAFT_HEADLINE=1 \
SPARK_GRAFT_OUT_PREFIX=sf1_ \
SPARK_GRAFT_BENCH_PASSES="${SPARK_GRAFT_BENCH_PASSES:-1}" \
sbt -batch "runMain graft.Bench"
