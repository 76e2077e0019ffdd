#!/bin/bash
# r19 optimization-round same-host A/B (guide §1: one host state per
# comparison; VERDICT r18 Next #4: a cited number with no committed
# artifact is a SCRIPT FAILURE, not a footnote):
#   1. HEAD        sf0.1 full sweep (min-of-3, fresh JVM) -> ab_head_sf01
#   2. r18-close   sf0.1 full sweep (72ed105 worktree)    -> ab_r18_sf01
#   3. HEAD        sf1 cluster-family prefix sweep        -> ab_head_sf1
#   4. r18-close   sf1 cluster-family prefix sweep        -> ab_r18_sf1
# Legs alternate builds back-to-back so host drift shows up as
# direction-consistent movement of the UNTOUCHED keys (the yardstick).
# Each leg's stdout JSON is the artifact; the runs sidecar (HEAD
# format) is archived beside it. A missing/empty artifact aborts the
# script with a non-zero rc.
# One Spark JVM at a time; never compile while this runs.
set -u
cd /root/repo
OUT=target/ab_r19
mkdir -p "$OUT"
AO="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
JOPTS="-Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx24g -XX:ReservedCodeCacheSize=512m"
WARMUP="q1_agg,window_rolling_corr,join_interval_overlap"

bench() { # bench <outfile> <classdir> <sfdir> [prefix...]
  local out="$1" cls="$2" dir="$3"; shift 3
  # a leg archives only the sidecar it wrote itself
  rm -f target/bench_runs.json
  SPARK_GRAFT_SF_DIR="$dir" SPARK_GRAFT_CPUS=32 SPARK_GRAFT_BENCH_RUNS=3 \
    SPARK_GRAFT_BENCH_WARMUP="$WARMUP" \
    java $AO $JOPTS -cp "$cls:/opt/spark/jars/*" \
    graft.Bench "$@" >"$OUT/$out.raw" 2>"$OUT/$out.err"
  local rc=$?
  # artifact-or-abort: a leg that produced no parseable JSON line must
  # fail the whole A/B loudly (VERDICT r18 Next #4)
  if [ $rc -ne 0 ] || ! python3 -c "import json,sys; json.load(open('$OUT/$out.raw'))"; then
    echo "ABORT: leg $out rc=$rc produced no parseable artifact" >&2
    exit 1
  fi
  mv "$OUT/$out.raw" "$OUT/$out.json"
  [ -f target/bench_runs.json ] && cp target/bench_runs.json "$OUT/${out}_runs.json"
  echo "done $out rc=$rc $(date -u +%H:%M:%S)"
}

HEADCLS=target/scala-2.13/classes
R18CLS=/tmp/r18base/target/scala-2.13/classes
[ -d "$R18CLS" ] || { echo "ABORT: r18 baseline classes missing at $R18CLS" >&2; exit 1; }
# cluster family + its index siblings + a stable untouched yardstick trio
PFX="dedup_cluster dedup_minhash_lsh dedup_source_matrix pipeline_dedup_impact pipeline_corpus_curation pipeline_incremental_curation dedup_containment dedup_ngram_jaccard dedup_exact dedup_simhash text_token_count window_rolling_corr graph_pagerank"

bench head_sf01 "$HEADCLS" /root/testdata/sf0.1
bench r18_sf01  "$R18CLS"  /root/testdata/sf0.1
bench head_sf1  "$HEADCLS" target/sf1 $PFX
bench r18_sf1   "$R18CLS"  target/sf1 $PFX
echo ALL_DONE
