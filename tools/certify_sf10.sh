#!/bin/bash
# Full-surface scale certification (round-14 form): generate the
# 10x/100x key-shifted replicas of the driver's sf0.1 (graft.GenData,
# const vocab — same shape as every prior sf1/sf10 artifact), then run
# the complete key surface at each point in N fresh-JVM shards and
# merge (tools/merge_bench.py). Sharding is the round-12 verdict #3
# fix: a single 193-key JVM inflates its LATE tail 2-3x (JVM aging /
# page-cache churn), which previously forced hand adjudication of
# in-band keys; fresh JVMs per ~32-key shard keep every key near its
# isolated steady state. One sbt JVM at a time (see
# .claude/skills/verify: concurrent benches contaminate /tmp layouts
# and contend for cores). 32g driver heap per the round-9 finding (at
# 24g sf10 loses localCheckpoint blocks to heap pressure).
#
# Round-14 changes: the per-key scale bands are EXPORTED from the Scala
# registry (ListKeys bands -> tools/bands.tsv) so adjudicate_sf10.py
# grades exactly what the code declares (r13 verdict #4); the replica
# regeneration guard tests the Spark _SUCCESS marker, not the bare
# directory, so an interrupted GenData regenerates instead of certifying
# truncated data (r13 advice); and merge_bench.py receives the expected
# key count so a silently missing shard fails the merge (r13 advice).
#
# usage: certify_sf10.sh [round_tag]      (default r14)
set -e
cd /root/repo
TAG=${1:-r14}
SHARDS=${SHARDS:-6}
SF1=/tmp/graft_sf1
SF10=/tmp/graft_sf10
SF01=$(dirname "$PWD")/testdata/sf0.1   # the sf0.1 lake GenData replicates, beside the checkout

# The progress greps keep GenData's own lines and errors in both forms:
# sbt's "[error]" tag and the bare ERROR/Exception lines a forked run's
# stderr carries under build.sbt's StdoutOutput.
# NB: Spark writes lineitem.parquet as a DIRECTORY; the _SUCCESS marker
# inside it is the only reliable completion signal
if [ ! -e $SF1/lineitem.parquet/_SUCCESS ]; then
  echo "== gen sf1 ($(date -u +%H:%M:%S)) =="
  sbt -batch "runMain graft.GenData $SF01 $SF1 10 const" 2>&1 | grep -E "gendata|error\]|ERROR|Exception" | grep -v "INFO\|WARN" | tail -15
fi
if [ ! -e $SF10/lineitem.parquet/_SUCCESS ]; then
  echo "== gen sf10 ($(date -u +%H:%M:%S)) =="
  sbt -batch "runMain graft.GenData $SF01 $SF10 100 const" 2>&1 | grep -E "gendata|error\]|ERROR|Exception" | grep -v "INFO\|WARN" | tail -15
fi

echo "== shard plan + band export ($(date -u +%H:%M:%S)) =="
# Keep only key<TAB>band rows (drops sbt's own chatter lines), with or
# without sbt's "[info] " prefix: forked runs print to stdout untouched
# (build.sbt's StdoutOutput), older sbt settings prefix every line.
# Export to a temp file FIRST and only replace the tracked tools/bands.tsv after
# the key-count sanity check passes (round-15 advice: the old in-place
# redirect clobbered the committed band table with a truncated file
# whenever the sbt run was garbled, even though the script then aborted).
sbt -batch "runMain graft.ListKeys bands" 2>&1 \
  | sed -nE $'s/^(\\[info\\] )?([a-z][a-z0-9_]*\t[a-z]*)$/\\2/p' > /tmp/graft_bands.tsv
cut -f1 /tmp/graft_bands.tsv > /tmp/graft_keys.txt
N=$(wc -l < /tmp/graft_keys.txt)
echo "$N keys across $SHARDS shards (bands -> tools/bands.tsv)"
if [ "$N" -lt 100 ]; then echo "ABORT: key extraction broke ($N keys)"; exit 1; fi
mv /tmp/graft_bands.tsv tools/bands.tsv
split -d -n r/$SHARDS /tmp/graft_keys.txt /tmp/graft_shard_

# Round-16 (r15 verdict #4): 7 of 8 r15 sf10 cert flags were shard
# co-residency artifacts — GB-scale index builds (substring posting
# tables, LSH band/shingle tables) age the shard JVM (heap churn,
# page-cache eviction, /tmp pressure), inflating every key scheduled
# AFTER them. Bench now executes keys in the CSV order given, so each
# shard runs its ordinary keys FIRST and the known GB-scale builders
# LAST — the builders' own numbers stay honest (their band allows the
# build), and nothing runs downstream of them to absorb the aging.
HEAVY='^(dedup_substring|dedup_substring_spans|dedup_passage_scrub|dedup_minhash_lsh|dedup_lookup_persisted|dedup_incremental|dedup_ngram_jaccard|dedup_threshold_sweep|dedup_containment|dedup_minhash_est|dedup_clusters)$'

for SF in sf1 sf10; do
  DIR=/tmp/graft_$SF
  rm -f /tmp/bench_${TAG}_${SF}_shard*.json   # stale shards would merge silently
  # r17 (r16 verdict #7): the sf10 leg runs in CONVERGENCE mode (each
  # key re-runs, max 6, until the last two runs agree within 10% and
  # records a per-key `converged` verdict) so cert readings on the
  # heaviest point are steady-state-adjudicable from the artifact. sf1
  # stays best-of-3 for comparability with every prior round's sf1
  # artifact. Shards have always run SEQUENTIALLY (one sbt JVM at a
  # time); per-key load_start readings above the core count reflect the
  # 32-core JVM's own preceding tasks, not co-tenancy.
  CONV=0; [ "$SF" = sf10 ] && CONV=1
  for s in $(seq -f "%02g" 0 $((SHARDS-1))); do
    KEYS=$( { grep -Ev "$HEAVY" /tmp/graft_shard_$s || true; grep -E "$HEAVY" /tmp/graft_shard_$s || true; } | paste -sd, )
    echo "== bench $SF shard $s ($(date -u +%H:%M:%S)) =="
    SPARK_GRAFT_SF_DIR=$DIR SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=32g \
      SPARK_GRAFT_ONLY=$KEYS SPARK_GRAFT_CONVERGE=$CONV \
      SPARK_GRAFT_BENCH_OUT=/tmp/bench_${TAG}_${SF}_shard$s.json \
      sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"'
  done
  python3 tools/merge_bench.py --expect $N BENCH_${SF}_${TAG}.json /tmp/bench_${TAG}_${SF}_shard*.json
done
echo "== done ($(date -u +%H:%M:%S)) =="
