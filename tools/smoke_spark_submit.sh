#!/usr/bin/env bash
# End-to-end smoke of the literal spark-submit invocation documented in
# README: thin jar + Spark-provided classpath, MakePages -> RunJob ->
# row-count assertion against the committed table, a check that the
# committed run's partition outputs were reclaimed, and a check that the
# table's metadata holds exactly its one snapshot file. Exits non-zero on
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
# the committed run keeps its commit marker but not its partition outputs
test ! -e "$WORK/job/work/run=smoke1"
test -f "$WORK/job/work/_progress/run=smoke1/_committed.json"
# one file commits a snapshot: the table's metadata is snap-1.json alone
test "$(ls -A "$WORK/job/table/metadata")" = "snap-1.json"
echo "SMOKE OK: $ROWS rows committed exactly once via literal spark-submit"
