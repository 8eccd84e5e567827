#!/bin/bash
# Fast runner: compile once with sbt, run mains with plain java (skips sbt
# startup per iteration). Usage:
#   tools/run.sh verify [sfDir] [outDir]
#   tools/run.sh bench  [sfDir]
#   tools/run.sh check  [sfDir] [outDir] [query ...]   # verify + oracle compare
#   tools/run.sh time|stages|plan <sfDir> <q1,q2,...> [cold|executed]   # graft.tools.Probe
# Task slots are the host's cores unless SPARK_GRAFT_CPUS is set (graft.Session).
set -e
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
JAVA="java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-24g} -cp $CP"
CMD="${1:-check}"
SF="${2:-/root/testdata/sf0.01}"
OUT="${3:-/tmp/verify_out}"
case "$CMD" in
  verify) $JAVA graft.Verify "$SF" "$OUT" ;;
  bench)  SPARK_GRAFT_SF_DIR="$SF" $JAVA graft.Bench ;;
  check)  shift 3 2>/dev/null || shift $#
          FILTER=""
          [ $# -gt 0 ] && FILTER=$(echo "$@" | tr ' ' ',')
          $JAVA graft.Verify "$SF" "$OUT" $FILTER
          python3 tools/check_oracle.py "$OUT" "$SF" "$@" ;;
  time|stages|plan) # graft.tools.Probe: per-query timing, per-stage
          # profile or plan audit. Usage:
          #   tools/run.sh time   <sfDir> <q1,q2,...>
          #   tools/run.sh stages <sfDir> <q1,q2,...> [cold]
          #   tools/run.sh plan   <sfDir> <q1,q2,...> [executed]
          $JAVA graft.tools.Probe "$CMD" "$SF" "${3:?usage: run.sh $CMD <sfDir> <q1,q2,...>}" ${4:+"$4"} ;;
  jitter) # boundary-engineered fixture check: perturb money columns onto
          # engine-rounding boundaries, then run the full verify+compare
          # against the perturbed copy. Usage:
          #   tools/run.sh jitter [srcSf] [workDir] [query ...]
          shift 3 2>/dev/null || shift $#
          JFIX="$OUT/fixture"; JOUT="$OUT/vout"
          rm -rf "$JFIX" "$JOUT"
          python3 tools/check_oracle.py --make-jitter "$SF" "$JFIX"
          FILTER=""
          [ $# -gt 0 ] && FILTER=$(echo "$@" | tr ' ' ',')
          $JAVA graft.Verify "$JFIX" "$JOUT" $FILTER
          python3 tools/check_oracle.py "$JOUT" "$JFIX" "$@" ;;
  nulls)  # null-semantics gate: the jitter fixture PLUS a NULL slice in
          # every jittered MEASURE column (never keys, never event time)
          # — catches three-valued-logic divergence (ASC null placement,
          # null-safe equality, missing-value routing). Usage:
          #   tools/run.sh nulls [srcSf] [workDir] [query ...]
          shift 3 2>/dev/null || shift $#
          NFIX="$OUT/fixture"; NOUT="$OUT/vout"
          rm -rf "$NFIX" "$NOUT"
          python3 tools/check_oracle.py --make-jitter "$SF" "$NFIX" 9 --nulls
          FILTER=""
          [ $# -gt 0 ] && FILTER=$(echo "$@" | tr ' ' ',')
          $JAVA graft.Verify "$NFIX" "$NOUT" $FILTER
          python3 tools/check_oracle.py "$NOUT" "$NFIX" "$@" ;;
  pipeline) rm -rf target/pipe/main
          $JAVA graft.streaming.PipelineMain "$SF" "$(pwd)/target/pipe/main" "${3:-4}" "${4:-2}" ;;
  *) echo "unknown cmd $CMD"; exit 2 ;;
esac
