#!/bin/bash
# Chaos soak for the pipeline (r10 verdict item 7, instrument-deepening):
# run the full generate->ingest->compact->reduce pipeline with SIGKILL
# injected at RANDOM wall-clock points — not the crash matrix's chosen
# windows — then let one clean invocation finish, and compare the final
# published results and table row counts against an UNINTERRUPTED control
# run. Every table is a Delta table (one txn-idempotent commit per
# staged batch, OPTIMIZE + VACUUM(0) on finish), so the chaos end-state
# must be row-identical to the control; any drift (lost rows, duplicated
# rows, diverging top-50s) fails loud here. The clean finish must also
# leave each table dir holding exactly its log's live files: no orphan
# from a killed writer, no `.scratch_*` dir and no `.tmp_*` commit temp;
# and nothing staged: no `.json` under `staging/` and no `staging/.tmp_*`
# batch a killed generator left half-written.
#
# Usage: tools/soak.sh [sfDir] [nBatches] [nKills] [seed] [--live]
# With --live every run (control, chaos, final) uses PipelineMain's
# long-lived mode: one batch staged and drained every 2 s, the reduce
# republished every 2 batches and Serve up throughout, so SIGKILLs land
# at random wall-clock points of a paced run (inside a staging, a commit
# or a republish) rather than of back-to-back batch-mode cycles. All
# runs share the mode so end states are compared like-for-like.
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

echo "== soak: final clean run (finish: compact, vacuum, publish) =="
$JAVA graft.streaming.PipelineMain "$SF" "$WORK" "$N" 2 $MODE \
  > /tmp/soak_final.log 2>&1

echo "== soak: comparing chaos end-state vs control =="
python3 - "$WORK" "$CTRL" <<'EOF'
import glob
import json
import os
import sys

import duckdb

work, ctrl = sys.argv[1], sys.argv[2]
con = duckdb.connect()
fails = []
report = []


def live_files(tdir):
    """The latest version's live data files: the newest checkpoint's adds
    (read through DuckDB), then the JSON commits after it."""
    log = f"{tdir}/_delta_log"
    names = os.listdir(log)
    ckpts = sorted(int(n[:20]) for n in names if n.endswith(".checkpoint.parquet"))
    live, start = set(), 0
    if ckpts:
        rows = con.sql(f"SELECT add.path FROM '{log}/{ckpts[-1]:020d}.checkpoint.parquet' "
                       "WHERE add IS NOT NULL").fetchall()
        live, start = {r[0] for r in rows}, ckpts[-1] + 1
    for v in sorted(int(n[:20]) for n in names if n.endswith(".json") and n[:20].isdigit()):
        if v < start:
            continue
        with open(f"{log}/{v:020d}.json") as f:
            for line in filter(str.strip, f):
                a = json.loads(line)
                if "add" in a:
                    live.add(a["add"]["path"])
                if "remove" in a:
                    live.discard(a["remove"]["path"])
    return live


# after the clean finish each table dir holds exactly its live files, so
# a raw glob IS the engine's view; an orphan or a scratch dir left behind
# would itself be a finding (the finish's vacuum(0) must reclaim them)
for t in ("orders", "lineitem", "customer"):
    for base in (work, ctrl):
        tdir = f"{base}/tables/{t}"
        if not os.path.isdir(f"{tdir}/_delta_log"):
            fails.append(f"{t}: {base} is not a Delta table")
            continue
        on_disk = {n for n in os.listdir(tdir) if n.endswith(".parquet")}
        live = live_files(tdir)
        if on_disk != live:
            fails.append(f"{t}: {base} holds {len(on_disk - live)} files outside the live set "
                         f"and misses {len(live - on_disk)} live files")
        for n in os.listdir(tdir):
            if n.startswith(".scratch_"):
                fails.append(f"{t}: {base} kept scratch dir {n} after the clean finish")
            if n.startswith(".tmp_") or n.startswith("..tmp_"):
                fails.append(f"{t}: {base} kept commit temp {n} after the clean finish")
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

# every drain deletes the batches it commits or skips, and the final run
# stages every batch id again (overwriting and publishing any batch a
# killed run left half-written), so nothing staged survives the finish
for base in (work, ctrl):
    staged = glob.glob(f"{base}/staging/**/*.json", recursive=True)
    if staged:
        fails.append(f"{base}/staging: {len(staged)} staged .json files survived the clean finish")
    for p in glob.glob(f"{base}/staging/.tmp_*"):
        fails.append(f"{p}: half-written batch survived the clean finish")

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
