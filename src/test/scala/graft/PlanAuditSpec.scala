package graft

import org.scalatest.funsuite.AnyFunSuite

/** Automated 100-TB plan audit over the registered query surface: builds
  * every auditable query at sf0.001 and rejects plan shapes that explode
  * at scale — CartesianProduct (data x data), and BroadcastNestedLoopJoin
  * anywhere it isn't a documented <=1-row aggregate attach. Also pins the
  * two plan properties the flagship analytics queries rely on: dimension
  * broadcasts and parquet filter pushdown.
  */
class PlanAuditSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  /** Excluded from the sweep: model-training / driver-orchestrated
    * queries (their cost is in fits, not one Catalyst plan), streaming
    * twins (micro-batch plans), and the iterative CC dedup (a plan per
    * round). Each is correctness-gated elsewhere.
    */
  private val skip = Set(
    "rf_train_eval", "model_comparison", "cv_random_search",
    "l1_feature_selection", "house_pipeline_gate", "sol2_pipeline_gate",
    "tree_train_confusion", "tree_train_binned_confusion",
    "tree_feature_importance", "tree_proba_auc", "tree_path_counts",
    "events_hourly_stream", "sessionize_stream", "interval_join_stream",
    "dedup_distinct_stream", "cms_heavy_hitters_stream", "dedup_clusters_lsh",
    "funnel_stream", "events_dau_stream", "events_enriched_stream",
    "hll_users_stream", "latest_status_stream",
    "dedup_within_watermark_stream", "interval_join_ordered_stream",
    // driver-orchestrated merge loop: a plan per round (tree-trainer
    // pattern); every round's frame is the Heaps-bounded vocab
    "bpe_merge_train", "bpe_encode_ratio")

  /** Queries that intentionally attach a bounded tiny broadcast side via
    * crossJoin — a <=1-row aggregate (share-of-total denominators, a
    * single query vector, a corpus-size scalar) or a fixed-k frame (the
    * 10 per-label centroids every vector must score against). Spark
    * renders these as BroadcastNestedLoopJoin over the broadcast rows,
    * which is a bounded attach, not a data x data join.
    */
  private val oneRowAttach = Set(
    "value_counts_priority", "describe_strings_orders", "tfidf_top_terms",
    "cosine_topk_vec0", "knn_label_vote_vec0", "ann_sign_topk_vec0",
    "ann_lsh_topk_vec0", "ivf_ann_topk_vec0", "embedding_near_dup_pairs",
    "near_dup_lsh_pruned", "accuracy_synth", "roc_auc_synth",
    "macro_f1_synth", "weighted_prf_synth", "entropy_gini_returnflag",
    "priority_abs_deviation", "quality_sample_docs", "lm_score_docs",
    "hist_quantile_totalprice", "bloom_contamination_prefilter",
    "incremental_dedup_shard", "incremental_dedup_components",
    // inherit the near-dup family's bounded attaches (scaled planes)
    "embedding_near_dup_scaled", "embedding_near_dup_scaled_slice",
    "mixing_plan_langs",
    "mixing_temperature_langs",
    "embedding_assign_centroid", "lm_ppl_holdout", "pmi_collocations",
    // cluster-based SemDeDup: every Lloyd E-step and the final
    // assignment attach the fixed-k centroid frame (assignToCentroids,
    // broadcast k rows) — the ivf/embedding_assign_centroid shape; the
    // agreement row additionally attaches two 1-row keep-list counts
    "semantic_dedup_kmeans", "semantic_dedup_kmeans_slice",
    "semantic_dedup_kmeans_agreement",
    "class_balance_downsample", "schema_drift_report", "join_size_profile",
    "seasonality_index_monthly", "basket_brand_pairs_lift",
    // two fixed-9-row attaches: decile targets, then the decile edges
    "psi_drift_totalprice",
    // two 1-row attaches: the 3 HLL estimates and the exact semi-join count
    "hll_overlap_custkeys",
    // two 1-row scalar attaches: the median, then the MAD
    "mad_outliers_totalprice",
    // three 1-row attaches: the 3 KMV estimates, matches, exact count
    "kmv_overlap_custkeys",
    // 1-row attach: the (total-weight, pair-count) sparsification cut
    "adamic_adar_trade_links",
    // two 1-row attaches: the (na, nb) corpus token totals, then the
    // full-vocabulary jsd_micro sum
    "jsd_source_unigrams",
    // 1-row attach: the argmax-config (best_depth) frame onto the 6-row
    // checkpointed CV result
    "cv_grid_tree_select",
    // inherit cosine_topk/ivf_ann/pq/sign's 1-row query-vector attaches
    // on BOTH of the rankings each compares
    "ann_recall_ivf_vec0", "ann_recall_pq_vec0", "ann_recall_sign_vec0",
    "ann_recall_lsh_vec0",
    // the DistRank-de-globalized ranks: each attaches its grand totals
    // (count / sum) as a broadcast 1-row aggregate
    "pareto_revenue_deciles", "rfm_segments", "session_duration_profile",
    // inherits session_duration_profile's 1-row grand-total attach over
    // the user_id-sliced frame (the sf100 truth-slice twin)
    "session_duration_slice",
    "token_budget_curve", "zorder_layout_orders", "lift_gains_deciles")

  test("no CartesianProduct / unexpected BroadcastNestedLoopJoin in any registered plan") {
    val bad = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.allQueries.filterNot(q => skip(q.name)).foreach { q =>
      val plan = q.run(spark, dir).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct"))
        bad += s"${q.name}: CartesianProduct"
      if (plan.contains("BroadcastNestedLoopJoin") && !oneRowAttach(q.name))
        bad += s"${q.name}: BroadcastNestedLoopJoin outside the 1-row-attach whitelist"
    }
    assert(bad.isEmpty, s"scale-hostile plans: ${bad.mkString("; ")}")
  }

  /** Queries allowed an UNPARTITIONED window (single-task sort of the
    * whole frame). Every entry is one of: (a) a fixed small grid —
    * digit/class/cell/bin/decile-edge frames (benford, chi2, entropy,
    * mutual-info, psi, woe, token-budget curve points, hist buckets,
    * rollup rows); (b) a calendar frame bounded by elapsed days/months
    * (cusum, autocorr, growth); (c) a distinct-value or micro-rounded
    * score grid (roc/pr midranks, ks, mann-whitney); (d) a size-gated
    * vocab rank (label-encode fits); or (e) a DOCUMENTED data-scale rank
    * whose scaladoc names the escape hatch for extreme scale (skyline's
    * dominance frontier, oof target-encode fold ranks, priority
    * deviation's 5-row frame). A new
    * query that introduces a global window must either justify its bound
    * here or rank with `graft.transform.DistRank` (bucketed parallel
    * local sorts + exact prefix offsets — the shape the former (e)
    * members pareto/rfm/session-profile/token-budget/z-order now use) /
    * the 1-row-agg + broadcast-attach pattern (`Stats.valueCounts`).
    */
  private val boundedGlobalWindow = Set(
    // (a) the DSIR model's total-count window runs over the FIXED
    // <=4096-row hashed-bucket frame, never the corpus
    "dsir_select_top", "dsir_gumbel_sample", "dsir_select_slice",
    "benford_digit_audit", "chi2_flag_status", "cusum_changepoint_daily",
    "entropy_gini_returnflag", "hist_quantile_totalprice",
    "ks_drift_totalprice", "label_encode_nation", "label_encode_unseen",
    // (c) r16: MAD medians moved off the one-reducer percentile
    // aggregate onto GridQuantiles — its cumulative windows run over
    // the DISTINCT-VALUE grid of o_totalprice cents (value domain, not
    // row count), the same bound as ks_drift_totalprice on the same
    // column
    "mad_outliers_totalprice",
    "mann_whitney_totalprice",
    "mutual_info_priority_status",
    "pr_curve_synth", "priority_abs_deviation", "psi_drift_totalprice",
    "revenue_autocorr_daily", "revenue_growth_monthly",
    "roc_auc_synth", "rollup_share_report",
    "skyline_parts_size_price", "target_encode_oof_priority",
    "woe_iv_priority")

  test("no unpartitioned window outside the bounded-frame whitelist") {
    val bad = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.allQueries.filterNot(q => skip(q.name)).foreach { q =>
      val globals = q.run(spark, dir).queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
      }
      if (globals.nonEmpty && !boundedGlobalWindow(q.name))
        bad += s"${q.name} (${globals.size} global windows)"
    }
    assert(bad.isEmpty,
      s"global-window plans outside the documented whitelist: " +
        s"${bad.mkString("; ")} — single-task sort at scale; use the " +
        "1-row-agg + broadcast-attach shape or whitelist with a bound")
  }

  test("q5 joins its dimension tables via BroadcastHashJoin") {
    val q = SparkEntry.allQueries.find(_.name == "q5_region_nation_revenue").get
    val plan = q.run(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "region/nation/customer dims must broadcast, not shuffle")
    assert(!plan.contains("CartesianProduct"))
  }

  test("grouped quantiles prunes the lineitem scan to its two columns") {
    val q = SparkEntry.allQueries
      .find(_.name == "grouped_quantiles_returnflag").get
    // the grid read runs while the query is built, as an SQL execution of
    // its own: its plan is read off the execution-start event
    val sc = spark.sparkContext
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            plans.add(s.physicalPlanDescription)
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      plans.add(q.run(spark, dir).queryExecution.executedPlan.toString)
      org.apache.spark.graft.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    val readSchemas = plans.toArray.flatMap(_.toString.linesIterator)
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(readSchemas.contains("l_returnflag") &&
      readSchemas.contains("l_extendedprice"),
      s"expected both operand columns in the scan schema:\n$readSchemas")
    // a scan that still reads the full 16-column lineitem row for a
    // 2-column statistic has lost column pruning
    assert(!readSchemas.contains("l_comment") &&
      !readSchemas.contains("l_partkey"),
      s"scan reads columns the query never touches:\n$readSchemas")
  }

  test("q1 pushes its shipdate filter into the parquet scan") {
    val q = SparkEntry.allQueries.find(_.name == "q1_pricing_summary").get
    val plan = q.run(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)")
        || plan.contains("PushedFilters: [LessThanOrEqual(l_shipdate"),
      s"expected a pushed l_shipdate predicate in the scan; plan:\n" +
        plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }
}
