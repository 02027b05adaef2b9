#!/usr/bin/env bash
# Round cadence (r18 judge #6): the checks every round must pass before
# a certified bench window, as ONE failing script instead of a hand-run
# checklist. Steps:
#   0. session-cache lint: a memo map keyed by SparkSession or String, or
#      a `def clear…Cache` hook, anywhere in src/main/scala outside
#      SessionCache.scala fails the cadence (memoize through
#      graft.SessionCache.getOrBuild instead); session-factory lint: a
#      `SparkSession.builder` anywhere in src/main/scala or src/test/scala
#      outside GraftSession.scala fails it too (build sessions through
#      graft.GraftSession; perfbench/ builds its own and is out of scope);
#      filesystem lint: a `FileSystem.get(` call anywhere in src/main/scala
#      fails it (that is the DEFAULT filesystem, so a path on another
#      scheme fails with "Wrong FS"; resolve it from the path with
#      graft.streaming.ViewCommit.fsFor or Path.getFileSystem); commit
#      lint: a `.rename(` call in src/main/scala/graft/streaming outside
#      ViewCommit.scala fails it (every streaming write commits through
#      ViewCommit's manifest, not a rename dance of its own); duration-
#      format lint: a `mins"` format string anywhere in src/main/scala
#      outside operators/TimeOps.scala fails it (the reference's Hh:MMmins
#      duration is formatted in one module: TimeOps.formatDuration on the
#      driver, TimeOps.formatDurationSeconds over columns)
#   1. sbt Test/compile + full ScalaTest suite
#   2. Verify dump at sf0.01 + DuckDB oracle compare (the driver's gate)
#   3. PLAN_SNAPSHOT regeneration + diff_plans GATE (exit 2 on SUSPECT
#      deltas — a lost broadcast / new shuffle cannot ship silently; a
#      deliberate plan change is shipped by committing the regenerated
#      snapshot with a STATUS.md note, which makes the diff clean again)
#   4. the benchmark's own tests (perfbench/test_bench.py): every workload,
#      the ingest loop included, runs end to end at sf0.001 with no failed
#      operation
# Leak/copy checks and fuzz seeds stay separate (driver-run / per-change)
# but are listed here for the round checklist.
#
# Usage: tools/cadence.sh [--skip-tests]
set -euo pipefail
cd "$(dirname "$0")/.."

SKIP_TESTS=0
[ "${1:-}" = "--skip-tests" ] && SKIP_TESTS=1

echo "=== cadence 0/4: session-cache + session-factory + filesystem + commit + duration-format lint ==="
if grep -rlPz --include='*.scala' --exclude=SessionCache.scala \
    '(mutable\.(Map|HashMap)|TrieMap|ConcurrentHashMap)\s*(\.empty)?\s*\[\s*\(?\s*(SparkSession|String)\b|def\s+clear\w*Cache' \
    src/main/scala; then
  echo "LINT FAILED: hand-rolled session memo above; use graft.SessionCache"
  exit 1
fi
if grep -rn --include='*.scala' --exclude=GraftSession.scala \
    'SparkSession\.builder' src/main/scala src/test/scala; then
  echo "LINT FAILED: SparkSession.builder above; use graft.GraftSession"
  exit 1
fi
if grep -rn --include='*.scala' 'FileSystem\.get(' src/main/scala; then
  echo "LINT FAILED: FileSystem.get above; resolve the filesystem from the path (ViewCommit.fsFor)"
  exit 1
fi
if grep -rn --include='*.scala' --exclude=ViewCommit.scala '\.rename(' \
    src/main/scala/graft/streaming; then
  echo "LINT FAILED: rename above; commit streaming writes through graft.streaming.ViewCommit"
  exit 1
fi
if grep -rn --include='*.scala' 'mins"' src/main/scala | grep -v '^src/main/scala/graft/operators/TimeOps\.scala:'; then
  echo "LINT FAILED: duration format above; format durations with graft.operators.TimeOps"
  exit 1
fi

if [ "$SKIP_TESTS" = 0 ]; then
  echo "=== cadence 1/4: sbt test ==="
  sbt -batch test 2>&1 | tail -5
else
  echo "=== cadence 1/4: sbt test SKIPPED (--skip-tests) ==="
fi

echo "=== cadence 2/4: Verify @ sf0.01 + oracle compare ==="
rm -rf /tmp/cadence_vout
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/cadence_vout" \
  2>&1 | grep -E "\[verify\].*failed" && { echo "VERIFY FAILED"; exit 1; } || true
python3 tools/check_correctness.py /root/testdata/sf0.01 /tmp/cadence_vout

echo "=== cadence 3/4: plan snapshot + diff_plans gate ==="
sbt -batch "runMain graft.PlanSnapshot" 2>&1 | tail -2
python3 tools/diff_plans.py

echo "=== cadence 4/4: benchmark tests (ingest loop end to end) ==="
python3 perfbench/test_bench.py

echo "=== cadence PASSED ==="
echo "(still per-round: fuzz_oracle.py fresh seeds, LEAKCHECK/COPYCHECK,"
echo " certified idle bench last on a quiet window — see STATUS.md)"
