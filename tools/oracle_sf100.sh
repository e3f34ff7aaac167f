#!/bin/bash
# sf100 oracle parity, by stage (paths relative to the repository root;
# spark-submit on PATH; classes jar at /tmp/graft-classes.jar, which
# `staged` and `kmeans` build from target/scala-2.13/classes):
#   parity [sfDir] [outDir]  the subset where BOTH engines stay tractable
#     at 600M lineitem rows, checked by tools/check_parity.py
#   staged  the four DuckDB-side disk bounds: Spark side first, then
#     tools/oracle_staged.py replays each oracle as per-CTE temp tables
#     with eager drops, the rerank chunked by candidate id
#   kmeans  the cluster-based SemDeDup family under tools/oracle_budget.py
#     budgets (value gates first, full keep-list last), then `staged`
set -u
cd "$(dirname "$0")/.." || exit 1
. tools/scratch_guard.sh
JAR=/tmp/graft-classes.jar
SF=target/scale/sf100
OUT=target/scale/verify_sf100

# spark_verify <queries> [shuffle partitions]: Spark results into $OUT
spark_verify () {
  env SPARK_GRAFT_CPUS=32 SPARK_GRAFT_ONLY="$1" \
    ${2:+SPARK_GRAFT_SHUFFLE_PARTITIONS=$2} \
    spark-submit --master "local[32]" --driver-memory 96g \
      --conf spark.local.dir=target/spark-tmp \
      --class graft.Verify "$JAR" "$SF" "$OUT"
}

parity () {
  SF=${1:-$SF}
  OUT=${2:-$OUT}
  spark_verify q1_pricing_summary,q3_top_order_revenue,q5_region_nation_revenue,q18_large_volume_customers,orders_monthly_counts,value_counts_priority,exact_dedup_prefix,hist_quantile_totalprice,hist_quantile_merge_check,grouped_quantiles_returnflag,flagship_bin_label_dist,asof_native_exec,interval_join_bucketed,skew_salted_join,mixing_temperature_langs,cms_heavy_hitters_tokens,minhash_estimate_error,events_hourly,sessionize_native,union_concat_acctbal,events_hourly_stream,sessionize_stream,hll_users_stream,dedup_distinct_stream,pareto_revenue_deciles,rfm_segments,session_duration_profile,token_budget_curve,zorder_layout_orders,bucketed_q5_region_revenue \
    2>/dev/null
  python3 tools/check_parity.py "$SF" "$OUT" 2>&1 | grep -v "no spark result"
}

staged () {
  local log=target/scale/oracle_sf100_staged.out
  local err=target/scale/oracle_sf100_staged.err
  local qs q
  : > "$log"; : > "$err"
  for qs in dedup_drop_components,dedup_keep_best_components \
            embedding_near_dup_scaled,semantic_dedup_scaled; do
    scratch_guard 30 >> "$log" 2>&1 || { echo "ABORT_DISK $qs" >> "$log"; exit 1; }
    echo "=== spark $qs $(date +%T) ===" >> "$err"
    spark_verify "$qs" 64 2>> "$err" || { echo "SPARK_FAIL $qs" >> "$log"; exit 1; }
  done
  for q in dedup_drop_components dedup_keep_best_components \
           embedding_near_dup_scaled semantic_dedup_scaled; do
    scratch_guard 25 >> "$log" 2>&1 || { echo "ABORT_DISK $q" >> "$log"; exit 1; }
    echo "=== staged $q $(date +%T) ===" >> "$log"
    timeout 5400 python3 tools/oracle_staged.py "$SF" "$OUT" "$q" >> "$log" 2>&1 \
      || echo "$q {\"status\": \"timeout\", \"err\": \"staged replay exceeded 5400s\"}" >> "$log"
    rm -rf target/spark-tmp/duck
  done
  echo STAGED_DONE | tee -a "$log"
}

kmeans () {
  local log=target/scale/oracle_sf100_kmeans.out
  local err=target/scale/oracle_sf100_kmeans.err
  local q
  : > "$log"; : > "$err"
  for q in semantic_dedup_kmeans_slice semantic_dedup_kmeans_agreement \
           semantic_dedup_kmeans; do
    scratch_guard 30 >> "$log" 2>&1 || { echo "ABORT_DISK $q" >> "$log"; exit 1; }
    echo "=== spark $q $(date +%T) ===" >> "$err"
    spark_verify "$q" 64 2>> "$err" || { echo "SPARK_FAIL $q" >> "$log"; exit 1; }
    echo "=== oracle $q $(date +%T) ===" >> "$err"
    python3 tools/oracle_budget.py "$SF" "$OUT" 1800 "$q" >> "$log" 2>&1
    rm -rf target/spark-tmp/duck
  done
  echo KMEANS_DONE | tee -a "$log"
  staged
}

stage=${1:?usage: tools/oracle_sf100.sh parity|staged|kmeans [args]}
shift
case "$stage" in
  parity) parity "$@" ;;
  staged|kmeans)
    jar cf "$JAR" -C target/scala-2.13/classes . || exit 1
    "$stage" ;;
  *) echo "unknown stage: $stage" >&2; exit 2 ;;
esac
