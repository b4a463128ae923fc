#!/usr/bin/env bash
# End-to-end smoke of the literal spark-submit invocation documented in
# README: thin jar + Spark-provided classpath, MakePages -> RunJob ->
# row-count assertion against the committed table, a check that the
# committed run's partition outputs were reclaimed and its manifests kept,
# a check that the table's metadata holds exactly its one snapshot file,
# and a second run on a two-executor local cluster whose manifests must
# carry the kernel's stage times from the executors. Exits non-zero on
# any failure.
set -euo pipefail
cd "$(dirname "$0")/.."
SPARK_HOME="${SPARK_HOME:-/opt/spark}"
WORK=$(mktemp -d /tmp/graft_submit_smoke.XXXXXX)
trap 'rm -rf "$WORK"' EXIT
sbt -batch package > "$WORK/build.log" 2>&1
JAR=$(ls target/scala-2.13/piiredacterspark_2.13-*.jar | grep -v -- -tests | head -1)
echo "jar: $JAR"
"$SPARK_HOME/bin/spark-submit" --master 'local[4]' \
  --class graft.MakePages "$JAR" "$WORK/pages" 2000 8 \
  > "$WORK/make.log" 2>&1
grep -q '"pages":2000' "$WORK/make.log"
"$SPARK_HOME/bin/spark-submit" --master 'local[4]' \
  --class graft.RunJob "$JAR" \
  --input "$WORK/pages" --output "$WORK/job" --run-id smoke1 \
  --partitions 8 > "$WORK/run.log" 2>&1
STATUS=$(grep -o '{"run_id":"smoke1".*}' "$WORK/run.log" | tail -1)
echo "status: $STATUS"
echo "$STATUS" | grep -q '"committed_this_run":true'
echo "$STATUS" | grep -q '"partitions_fresh":8'
# re-submit: exactly-once — resume must be a no-op with the same rows
"$SPARK_HOME/bin/spark-submit" --master 'local[4]' \
  --class graft.RunJob "$JAR" \
  --input "$WORK/pages" --output "$WORK/job" --run-id smoke1 \
  --partitions 8 > "$WORK/rerun.log" 2>&1
STATUS2=$(grep -o '{"run_id":"smoke1".*}' "$WORK/rerun.log" | tail -1)
echo "rerun:  $STATUS2"
echo "$STATUS2" | grep -q '"committed_this_run":false'
echo "$STATUS2" | grep -q '"partitions_skipped":8'
ROWS=$(echo "$STATUS" | grep -o '"table_rows":[0-9]*' | cut -d: -f2)
ROWS2=$(echo "$STATUS2" | grep -o '"table_rows":[0-9]*' | cut -d: -f2)
test "$ROWS" = "$ROWS2"
test "$ROWS" -gt 0
# the committed run keeps its 8 partition manifests but not its outputs
test ! -e "$WORK/job/work/run=smoke1"
test "$(ls "$WORK/job/work/_progress/run=smoke1" |
  grep -c '^partition=[0-9]*\.json$')" = 8
# one file commits a snapshot: the table's metadata is snap-1.json alone
test "$(ls -A "$WORK/job/table/metadata")" = "snap-1.json"
# a second run, on a cluster: the kernel runs in two executor JVMs, and
# every non-empty partition's manifest still has all five stage times
"$SPARK_HOME/bin/spark-submit" --master 'local-cluster[2,1,1024]' \
  --class graft.RunJob "$JAR" \
  --input "$WORK/pages" --output "$WORK/job" --run-id smoke2 \
  --partitions 4 > "$WORK/cluster.log" 2>&1
STATUS3=$(grep -o '{"run_id":"smoke2".*}' "$WORK/cluster.log" | tail -1)
echo "cluster: $STATUS3"
echo "$STATUS3" | grep -q '"committed_this_run":true'
echo "$STATUS3" | grep -q "\"table_rows\":$ROWS,"
python3 - "$WORK/job/work/_progress/run=smoke2" <<'PY'
import glob, json, os, sys
ms = [json.load(open(p))
      for p in glob.glob(os.path.join(sys.argv[1], "partition=*.json"))]
assert len(ms) == 4, f"{len(ms)} manifests"
for m in ms:
    if m["rows"] > 0:
        cpu = {s: v["cpu_sec"] for s, v in m["stages"].items()}
        assert len(cpu) == 5 and all(c > 0 for c in cpu.values()), \
            f"partition {m['partition']}: {cpu}"
print("cluster cpu_sec by partition:", {m["partition"]: round(
    sum(v["cpu_sec"] for v in m["stages"].values()), 3) for m in ms})
PY
echo "SMOKE OK: $ROWS rows committed exactly once via literal spark-submit"
