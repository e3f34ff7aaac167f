#!/bin/bash
# The sf100 rung, by stage (paths relative to the repository root;
# spark-submit on PATH; classes jar at /tmp/graft-classes.jar):
#   scale <sf0.1 dir> [outDir]  regenerate the sf100 corpus: graft.ScaleUp
#     x1000 for the Spark-writable tables, tools/scale_events.py for the
#     TIMESTAMP(NANOS) events table
#   bench [sfDir] [outLog]      heavy-hitter bench in fresh-JVM single-rep
#     batches (each batch is a cold JVM; numbers are compared as
#     within-run relatives vs the sf10 sweep)
set -u
cd "$(dirname "$0")/.." || exit 1
. tools/scratch_guard.sh
JAR=/tmp/graft-classes.jar
SUBMIT=(spark-submit --master "local[32]" --driver-memory 96g
  --conf spark.local.dir=target/spark-tmp)

scale () {
  local src=${1:?usage: tools/bench_sf100.sh scale <sf0.1 dir> [outDir]}
  local out=${2:-target/scale/sf100} log=target/scale/scaleup_sf100.log
  scratch_guard 40 || exit 1
  : > "$log"
  date +%T >> "$log"
  SPARK_GRAFT_CPUS=32 "${SUBMIT[@]}" --class graft.ScaleUp "$JAR" \
    "$src" "$out" 1000 >> "$log" 2>&1 || { echo SCALEUP_FAIL >> "$log"; exit 1; }
  date +%T >> "$log"
  python3 tools/scale_events.py "$src" "$out" 1000 >> "$log" 2>&1 \
    || { echo EVENTS_FAIL >> "$log"; exit 1; }
  date +%T >> "$log"
  du -sh "$out" >> "$log"
  echo SCALEUP_DONE | tee -a "$log"
}

bench () {
  local sf=${1:-target/scale/sf100} log=${2:-target/scale/bench_sf100.log}
  local b
  for b in \
    q1_pricing_summary,q3_top_order_revenue,q5_region_nation_revenue,q18_large_volume_customers,orders_monthly_counts \
    scd2_customer_status_history,rolling_user_features,events_hourly,sessionize_native,asof_native_exec,interval_join_bucketed,skew_salted_join \
    flagship_bin_label_dist,binning_design_lineitem,quantile_bin_totalprice,grouped_quantiles_returnflag,hist_quantile_totalprice,hist_quantile_merge_check \
    exact_dedup_prefix,simhash_docs,cms_heavy_hitters_tokens,minhash_estimate_error,mixing_temperature_langs,gopher_quality_rules,tfidf_top_terms \
    dedup_components_bucket,span_dedup_coverage \
    ivf_ann_topk_vec0,pq_ann_topk_vec0,embedding_assign_centroid \
    hll_distinct_shingles \
    events_hourly_stream,sessionize_stream,hll_users_stream,dedup_distinct_stream,events_sliding_stream,interval_join_stream,cms_heavy_hitters_stream
  do
    echo "=== batch $b ===" >> "$log"
    scratch_guard 30 >> "$log" 2>&1 || { echo "ABORT_DISK" >> "$log"; exit 1; }
    SPARK_GRAFT_SF_DIR="$sf" SPARK_GRAFT_CPUS=32 SPARK_GRAFT_REPEAT=1 \
      SPARK_GRAFT_ONLY="$b" "${SUBMIT[@]}" --class graft.Bench "$JAR" \
      2>/dev/null | grep '"metric"' >> "$log"
  done
  echo ALLDONE >> "$log"
}

stage=${1:?usage: tools/bench_sf100.sh scale|bench [args]}
shift
case "$stage" in
  scale) scale "$@" ;;
  bench) bench "$@" ;;
  *) echo "unknown stage: $stage" >&2; exit 2 ;;
esac
