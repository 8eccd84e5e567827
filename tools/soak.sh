#!/bin/bash
# Chaos soak for the pipeline (r10 verdict item 7, instrument-deepening):
# run the full generate->ingest->compact->reduce pipeline with SIGKILL
# injected at RANDOM wall-clock points — not the crash matrix's chosen
# windows — then let one clean invocation finish, and compare the final
# published results and table row counts against an UNINTERRUPTED control
# run. Exactly-once + crash-repair means the chaos end-state must be
# row-identical to the control; any drift (lost rows, duplicated rows,
# diverging top-50s) fails loud here.
#
# Usage: tools/soak.sh [sfDir] [nBatches] [nKills] [seed] [--live]
# With --live every run (control, chaos, final) uses PipelineMain's
# long-lived mode: resident Trigger.ProcessingTime ingestion streams +
# a 2 s generator cadence, so SIGKILLs land INSIDE micro-batch commits
# of the resident streams (the r10 crash matrix's windows, hit at
# random wall-clock points under load) rather than between batch-mode
# drains. All runs share the mode so end states are compared
# like-for-like.
# Writes /tmp/soak_report.txt and exits nonzero on any mismatch.
set -e
cd "$(dirname "$0")/.."
# --live may appear at ANY position (r12 advice: pinning it to $5 forced
# spelling out all defaults, and an earlier --live was silently consumed
# as a positional value, running batch mode with e.g. SF='--live')
MODE=""
POS=()
for a in "$@"; do
  if [ "$a" = "--live" ]; then MODE="--live"; else POS+=("$a"); fi
done
SF="${POS[0]:-/root/testdata/sf0.001}"
N="${POS[1]:-6}"
KILLS="${POS[2]:-8}"
SEED="${POS[3]:-11}"
CP="target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
JAVA="java $ADD_OPENS -Xmx8g -cp $CP"
WORK="$(pwd)/target/pipe/soak"
CTRL="$(pwd)/target/pipe/soak_ctrl"
rm -rf "$WORK" "$CTRL"

echo "== soak: control run (uninterrupted, $N batches${MODE:+, live}) =="
$JAVA graft.streaming.PipelineMain "$SF" "$CTRL" "$N" 2 $MODE \
  > /tmp/soak_ctrl.log 2>&1

# Deterministic pseudo-random kill delays (seconds) from the seed, so a
# failing soak is reproducible with the same arguments.
DELAYS=$(python3 -c "
import random
r = random.Random($SEED)
print(' '.join(str(r.randint(3, 45)) for _ in range($KILLS)))")
echo "== soak: $KILLS chaos runs, kill delays: $DELAYS =="
i=0
for d in $DELAYS; do
  i=$((i + 1))
  $JAVA graft.streaming.PipelineMain "$SF" "$WORK" "$N" 2 $MODE \
    > "/tmp/soak_chaos_$i.log" 2>&1 &
  pid=$!
  sleep "$d"
  if kill -9 "$pid" 2>/dev/null; then
    echo "  chaos $i: SIGKILL after ${d}s"
  else
    echo "  chaos $i: completed before ${d}s elapsed (no kill landed)"
  fi
  wait "$pid" 2>/dev/null || true
done

echo "== soak: final clean run (crash-repair + finish) =="
$JAVA graft.streaming.PipelineMain "$SF" "$WORK" "$N" 2 $MODE \
  > /tmp/soak_final.log 2>&1

echo "== soak: comparing chaos end-state vs control =="
python3 - "$WORK" "$CTRL" <<'EOF'
import glob
import os
import sys

import duckdb

work, ctrl = sys.argv[1], sys.argv[2]
con = duckdb.connect()
fails = []
report = []

# final compaction leaves plain-parquet tables (no _spark_metadata), so a
# raw glob IS the engine's view; a leftover sink log would itself be a
# finding (final clean run must retire it)
for t in ("orders", "lineitem", "customer"):
    for base in (work, ctrl):
        if os.path.exists(f"{base}/tables/{t}/_spark_metadata"):
            fails.append(f"{t}: {base} still has a sink commit log after the clean finish")
    a = con.sql(f"SELECT count(*) FROM '{work}/tables/{t}/*.parquet'").fetchone()[0]
    b = con.sql(f"SELECT count(*) FROM '{ctrl}/tables/{t}/*.parquet'").fetchone()[0]
    report.append(f"{t}: chaos={a} control={b}")
    if a != b:
        fails.append(f"{t}: row count {a} != control {b}")

# every publish swaps its staging dir away; one surviving a clean
# finish means a publish failed or skipped its cleanup
for base in (work, ctrl):
    for p in glob.glob(f"{base}/results/.stage*"):
        fails.append(f"{p}: staging dir survived the clean finish")

segs = sorted(os.path.basename(p) for p in glob.glob(f"{ctrl}/results/*"))
if not segs:
    fails.append("control published no results")
for s in segs:
    wp, cp = f"{work}/results/{s}", f"{ctrl}/results/{s}"
    if not os.path.isdir(wp):
        fails.append(f"results/{s}: missing in chaos run")
        continue
    diff = con.sql(
        f"SELECT count(*) FROM ((SELECT * FROM '{wp}/*.parquet' EXCEPT "
        f"SELECT * FROM '{cp}/*.parquet') UNION ALL "
        f"(SELECT * FROM '{cp}/*.parquet' EXCEPT "
        f"SELECT * FROM '{wp}/*.parquet'))").fetchone()[0]
    n = con.sql(f"SELECT count(*) FROM '{cp}/*.parquet'").fetchone()[0]
    report.append(f"results/{s}: {n} rows, symmetric diff {diff}")
    if diff:
        fails.append(f"results/{s}: symmetric diff {diff} rows vs control")

with open("/tmp/soak_report.txt", "w") as f:
    f.write("\n".join(report + ["FAIL: " + x for x in fails]) + "\n")
print("\n".join(report))
if fails:
    print("\n".join("FAIL: " + x for x in fails))
    sys.exit(1)
print("SOAK PASS: chaos end-state row-identical to control")
EOF
