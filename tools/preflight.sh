#!/usr/bin/env bash
# End-of-round gate: refuse to snapshot a broken tree.
#
# r6 shipped a non-compiling tree; r7 shipped an unexercised streaming
# family into a changed fixture. This script is the answer to both:
#   1. `sbt compile Test/compile` must pass (r6's failure mode).
#   2. The QueriesSpec slice for every test family whose SOURCE file was
#      touched this round must pass (r7's failure mode) — plus the
#      streaming family unconditionally, since it is the one that breaks
#      on fixture drift (watermark/event-time types).
#
# Usage: tools/preflight.sh [since-ref]      (default: last snapshot commit)
# Exit nonzero on any failure; the snapshot commit must not proceed.
set -euo pipefail
cd "$(dirname "$0")/.."

SINCE="${1:-$(git log --grep 'end-of-round snapshot' -n1 --format=%H)}"
[ -n "$SINCE" ] || SINCE=HEAD~1
echo "preflight: diffing against $SINCE"

# Queries run inside a caller's shared session, so no code may change its
# conf at runtime: a concurrent query on the same session would plan under
# the changed values. Two files are allowed: EventsStream.scala, whose
# clonedSession sets confs on the session it has just cloned, and
# Tables.scala, whose rawEvents still toggles the nanos-as-long flag on the
# caller's session (the one open exception, ROADMAP item 3). Builder
# `.config(` calls do not match the pattern.
echo "== gate 0: no session-conf mutation under src/main/scala =="
if grep -rnE 'conf\.(set|unset)\(' --include='*.scala' src/main/scala |
    grep -vE '^src/main/scala/graft/(streaming/EventsStream|Tables)\.scala:'; then
  echo "PREFLIGHT FAIL: conf.set/conf.unset under src/main/scala"
  exit 1
fi
echo "session conf OK"

# The load's count audit reads the lake's parquet footers
# (TableSink.loadedRows), not a Spark scan of the read-back. A
# `readBack(...)` followed by `.count()`, also across a line break, is
# allowed only as the trait's non-override `def loadedRows` default, which
# sinks with no cheaper answer (JDBC) inherit.
echo "== gate 0b: no readBack(...).count() under graft.pipeline =="
if perl -0777 -ne '
  while (/readBack\([^()]*\)\s*\.count\(\)/g) {
    my $pre = substr($_, 0, $-[0]);
    next if $pre =~ /(?<!override )def loadedRows\([^)]*\)\s*:\s*Long\s*=\s*\z/;
    print "$ARGV:", ($pre =~ tr/\n//) + 1, "\n"; $bad = 1;
  }
  END { exit($bad ? 0 : 1) }' src/main/scala/graft/pipeline/*.scala; then
  echo "PREFLIGHT FAIL: readBack(...).count() under src/main/scala/graft/pipeline"
  exit 1
fi
echo "pipeline audit OK"

# A driver-side collection under graft.operators is bounded: it goes
# through LocalGraph.take, which reads at most cap + 1 rows and reports an
# over-cap input so the caller can run its distributed path. No other
# operator file may collect to the driver.
echo "== gate 0c: driver-side collects under graft.operators only in LocalGraph =="
if grep -rnE 'executeTake\(|\.collect\(\)|toLocalIterator' \
    --include='*.scala' src/main/scala/graft/operators |
    grep -v '^src/main/scala/graft/operators/LocalGraph\.scala:'; then
  echo "PREFLIGHT FAIL: uncapped driver-side collect under src/main/scala/graft/operators"
  exit 1
fi
echo "operators collect OK"

# The manifest is a small driver-local JSON-lines file, and Manifest is the
# one owner of its format: save and load go through one Jackson mapper over
# java.nio. A Spark read of it costs a job on every resume and resolves a
# schemeless path against fs.defaultFS, where the java.nio writer never
# put the file.
echo "== gate 0d: Manifest.scala uses no Spark API =="
if grep -n 'org\.apache\.spark' src/main/scala/graft/pipeline/Manifest.scala; then
  echo "PREFLIGHT FAIL: Manifest.scala names org.apache.spark"
  exit 1
fi
echo "manifest codec OK"

echo "== gate 1: compile + Test/compile =="
sbt -batch compile Test/compile >/tmp/preflight_compile.log 2>&1 || {
  tail -30 /tmp/preflight_compile.log; echo "PREFLIGHT FAIL: compile"; exit 1; }
echo "compile OK"

# The perfbench harness compiles src/main/scala together with its own code
# and calls src/main names (MinHashDedup.clearScratch, SparkEntry, the
# pipeline types): a rename there passes gate 1 and the specs but breaks the
# benchmark. Same offline SBT_OPTS as perfbench/run.py's build(); sbt state
# stays in the gitignored perfbench/.build.
echo "== gate 1b: compile the perfbench harness =="
PB_BUILD="$PWD/perfbench/.build"
mkdir -p "$PB_BUILD/tmp"
(cd perfbench && COURSIER_MODE=offline SBT_OPTS="-Dsbt.override.build.repos=true \
-Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true \
-Dsbt.server.autostart=false -Dsbt.global.base=$PB_BUILD/sbt-global \
-Djava.io.tmpdir=$PB_BUILD/tmp -Xmx2g" sbt -batch compile) \
  >/tmp/preflight_perfbench.log 2>&1 || {
  tail -30 /tmp/preflight_perfbench.log; echo "PREFLIGHT FAIL: perfbench compile"; exit 1; }
echo "perfbench compile OK"

# Map touched main-source files -> spec globs to run. Streaming always runs.
TOUCHED=$(git diff --name-only "$SINCE" -- 'src/main/scala/**' 2>/dev/null || true)
SPECS="graft.streaming.* *QueriesSpec"
declare -A FAM=(
  [pipeline]="graft.pipeline.*"
  [operators]="graft.operators.*"
  [functions]="graft.functions.*"
  [plans]="graft.plans.*"
  [tools]="graft.tools.*"
)
NFAM=0
for dir in "${!FAM[@]}"; do
  if echo "$TOUCHED" | grep -q "graft/$dir/"; then
    SPECS="$SPECS ${FAM[$dir]}"; NFAM=$((NFAM + 1))
  fi
done
# top-level graft/*.scala (Tables, Bench, QuerySuite, ...) has no package
# dir of its own; its specs are the root-package loader and Bench specs
if echo "$TOUCHED" | grep -qE '^src/main/scala/graft/[^/]+\.scala$'; then
  SPECS="$SPECS graft.TablesNanosSpec graft.SourceFormatsSpec graft.BenchSpec graft.ParquetReadSpec"
  NFAM=$((NFAM + 1))
fi
# streaming runs unconditionally as a slice but still counts toward width
if echo "$TOUCHED" | grep -q "graft/streaming/"; then NFAM=$((NFAM + 1)); fi
# Wide rounds escape slice selection's premise (that untouched families
# can't break): >3 families touched means cross-family seams moved — run
# the FULL suite, which at that point costs barely more than the slices.
if [ "$NFAM" -gt 3 ]; then
  echo "== gate 2: $NFAM families touched (>3) -> FULL sbt test =="
  sbt -batch test >/tmp/preflight_test.log 2>&1 || {
    tail -40 /tmp/preflight_test.log; echo "PREFLIGHT FAIL: full suite"; exit 1; }
else
echo "== gate 2: specs for touched families: $SPECS =="
# testOnly with globs that match nothing is a no-op success, which is fine —
# the QueriesSpec glob always matches and is the oracle-shaped end-to-end net.
sbt -batch "Test/testOnly $SPECS" >/tmp/preflight_test.log 2>&1 || {
  tail -40 /tmp/preflight_test.log; echo "PREFLIGHT FAIL: specs"; exit 1; }
fi
# informational only — sbt's exit code above is the gate; '|| true' keeps a
# phrasing change in sbt's summary from failing the preflight under set -e
grep -E 'Tests: succeeded|All tests passed' /tmp/preflight_test.log | tail -3 || true
echo "PREFLIGHT OK"
