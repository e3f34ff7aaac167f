package graft.queries

import graft.{GraftQuery, Q, QueryPack, Tables}
import graft.tree.{DecisionTree, TreeParams}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Decision-tree queries (SURVEY §2.8 M8/M9, §2.4 A11-A14, A20).
  *
  * The FULL depth-3 level-wise trainer is oracle-checked: each oracle
  * feeds its base rows to `DecisionTree.oracleTrainCtes`, which replays
  * training end to end — per-(node,feature,threshold) cumulative gain
  * tables, the reference's stopping rules and tie-breaks (gain desc,
  * feature order, lowest threshold; house_predict.py:283-334), and
  * per-level row routing. The binned queries additionally replay the
  * exact-quantile bucketizer (`quantile_cont` is bit-identical to Spark
  * `percentile`, and the i/16 probs are dyadic => exact).
  */
object TreeQueries extends QueryPack {

  private def labeled(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem").select(
      col("l_quantity"), col("l_discount"), col("l_tax"),
      col("l_extendedprice"),
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("label"))

  /** A14: the info-gain split-search table for one feature at the root —
    * the heart of the trainer, fully oracle-checked.
    */
  val splitGains: GraftQuery = GraftQuery(
    "split_gains_discount",
    (s, dir) => DecisionTree.rootGains(
        labeled(s, dir), "l_discount", "label", Seq(0L, 1L),
        criterion = "entropy", minSamplesLeaf = 1)
      .select(col("threshold"), col("ln"), col("tn"), Q.r6(col("gain")).as("gain"))
      .orderBy("threshold"),
    Some(s"""
      WITH d AS (
        SELECT CAST(l_discount AS DOUBLE) AS v,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem),
      g AS (SELECT v, COUNT(*) AS n,
                   SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS c0,
                   SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS c1
            FROM d GROUP BY v),
      c AS (SELECT v,
                   SUM(n)  OVER wc AS ln,  SUM(n)  OVER wa AS tn,
                   SUM(c0) OVER wc AS lc0, SUM(c0) OVER wa AS tc0,
                   SUM(c1) OVER wc AS lc1, SUM(c1) OVER wa AS tc1
            FROM g
            WINDOW wc AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wa AS ())
      SELECT v AS threshold, CAST(ln AS BIGINT) AS ln, CAST(tn AS BIGINT) AS tn,
             round(${DecisionTree.oracleGainSql}, 6) AS gain
      FROM c
      WHERE ln >= 1 AND tn - ln >= 1
        AND v > (SELECT MIN(v) FROM d) -- reference skips unique_values[0]
      ORDER BY threshold"""))

  private val feats =
    Seq("l_quantity", "l_discount", "l_tax", "l_extendedprice")
  private val params =
    TreeParams(maxDepth = 3, minSamplesSplit = 50, minSamplesLeaf = 20)
  private val nBins = 16

  // shared through the session's registry (graft.ChainGuard): the five
  // queries of the family pay 2 fits per scale factor, not one each
  private def model(s: SparkSession, dir: String, binned: Boolean) =
    graft.ChainGuard.memo(s, s"tree_model $dir binned=$binned") {
      DecisionTree.fit(labeled(s, dir), feats, "label",
        if (binned) params.copy(maxBins = Some(nBins)) else params)
    }

  // ---------------------------------------------------------------------
  // DuckDB replay: the pack's base rows, trained by the shared
  // `DecisionTree.oracleTrainCtes` chain (suffix `t`).
  // ---------------------------------------------------------------------

  /** Training rows after the last level, each in its leaf. */
  private val leafRows = s"a${params.maxDepth}_t"

  /** The base rows and the training chain. Exact mode trains on raw
    * (double-cast) feature values, one row each; binned mode first fits
    * 16 exact-quantile edges per feature (`QuantileBinner.fitMany`
    * semantics: dedup'd sorted edges, the i/16 probs are exact dyadic
    * doubles) and trains on bucket codes (= count of interior edges
    * strictly below the value — the `cut` right-closed chain in closed
    * form).
    */
  private def trainSql(binned: Boolean): String = {
    val probs = (0 to nBins).map(i => i.toDouble / nBins).mkString("[", ", ", "]")
    val rawF = Seq(
      "CAST(l_quantity AS DOUBLE)", "CAST(l_discount AS DOUBLE)",
      "CAST(l_tax AS DOUBLE)", "CAST(l_extendedprice AS DOUBLE)")
    val y = "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y"
    val base =
      if (!binned)
        s"""base AS MATERIALIZED (
          SELECT ${rawF(0)} AS f0, ${rawF(1)} AS f1,
                 ${rawF(2)} AS f2, ${rawF(3)} AS f3, $y, 1 AS w
          FROM lineitem)"""
      else {
        val es = rawF.zipWithIndex.map { case (f, i) =>
          s"""e$i AS MATERIALIZED (SELECT list_sort(list_distinct(
            quantile_cont($f, $probs))) AS e FROM lineitem)"""
        }.mkString(",\n")
        val codes = rawF.zipWithIndex.map { case (f, i) =>
          s"CAST(length(list_filter(e$i.e[2:length(e$i.e)-1], x -> x < $f)) AS DOUBLE) AS f$i"
        }.mkString(",\n                 ")
        // binned mode: bucket codes live in {0..nBins-1}^4 x {0,1}, so
        // the data-sized frame collapses to <= nBins^4 * 2 weighted rows
        // BEFORE the level-wise replay (the r12 HHI pre-aggregation
        // move: counting commutes with grouping). Every level statistic
        // is a sum of counts, so SUM(w) arithmetic is exactly COUNT(*)
        // over the raw frame; routing depends only on the bin vector,
        // so distinct rows stay bounded at every level. This is what
        // makes the trainer oracle replayable at the 600M-row rung (the
        // per-row chain needed >55 GB of DuckDB temp and died on disk at
        // sf100).
        s"""$es,
        base AS MATERIALIZED (
          SELECT f0, f1, f2, f3, y, COUNT(*) AS w
          FROM (SELECT $codes, $y
          FROM lineitem, e0, e1, e2, e3)
          GROUP BY f0, f1, f2, f3, y)"""
      }
    s"WITH $base,\n      ${DecisionTree.oracleTrainCtes("base", "t", params)}"
  }

  /** Every split of the binned tree: `ft(ford, feature)` names the
    * features and `sp(node, ford, thr)` unions the winner tables of all
    * levels, each bucket code mapped back to its bucket's upper edge
    * edges(code+1) (1-based e[code+2]), exactly `DecisionTree.fit`'s
    * thresholdOf.
    */
  private val binnedSplitsSql: String = {
    val winners = (0 until params.maxDepth)
      .map(l => s"SELECT node, ford, thr FROM b${l}_t").mkString(" UNION ALL ")
    val edge = (0 until feats.size)
      .map(i => s"WHEN $i THEN e$i.e[CAST(b.thr AS INTEGER)+2]").mkString(" ")
    val names = feats.zipWithIndex.map { case (f, i) => s"($i, '$f')" }.mkString(", ")
    s"""ft(ford, feature) AS (VALUES $names),
      sp AS MATERIALIZED (SELECT b.node, b.ford, CASE b.ford $edge END AS thr
             FROM ($winners) b, e0, e1, e2, e3)"""
  }

  private def confusionSql(binned: Boolean): String =
    s"""${trainSql(binned)}
      SELECT CAST(a.y AS BIGINT) AS label, CAST(l.pred AS BIGINT) AS pred,
             CAST(SUM(a.w) AS BIGINT) AS n
      FROM $leafRows a JOIN leaf_t l ON a.node = l.node
      GROUP BY a.y, l.pred ORDER BY label, pred"""

  /** M8+M9 end-to-end: depth-3 exact-mode tree, evaluated via confusion
    * counts — ORACLE-CHECKED by replaying training in SQL (reference
    * parity mode; the binned twin is the at-scale default).
    */
  val trainConfusion: GraftQuery = GraftQuery(
    "tree_train_confusion",
    (s, dir) => {
      val d = labeled(s, dir)
      model(s, dir, binned = false).transform(d, "pred")
        .groupBy("label", "pred").agg(count(lit(1)).as("n"))
        .orderBy("label", "pred")
    },
    Some(confusionSql(binned = false)))

  /** Scalable mode: same tree with maxBins=16 quantized candidates —
    * oracle additionally replays the exact-quantile bucketizer.
    */
  val trainBinned: GraftQuery = GraftQuery(
    "tree_train_binned_confusion",
    (s, dir) => {
      val d = labeled(s, dir)
      model(s, dir, binned = true).transform(d, "pred")
        .groupBy("label", "pred").agg(count(lit(1)).as("n"))
        .orderBy("label", "pred")
    },
    Some(confusionSql(binned = true)))

  /** A20: split-count feature importance of the BINNED tree (the at-scale
    * default mode) — oracle counts winning splits per feature across the
    * three replayed levels (house_predict.py:396-418 normalization).
    */
  val importance: GraftQuery = GraftQuery(
    "tree_feature_importance",
    (s, dir) => {
      val spark = s
      import spark.implicits._
      model(s, dir, binned = true).importance
        .toDF("feature", "importance").orderBy("feature")
    },
    Some(s"""${trainSql(binned = true)},
      $binnedSplitsSql,
      fc AS MATERIALIZED (SELECT ford, COUNT(*) AS c FROM sp GROUP BY ford),
      tot AS MATERIALIZED (SELECT GREATEST(CAST(COALESCE(SUM(c), 0) AS DOUBLE), 1.0) AS t
              FROM fc)
      SELECT f.feature AS feature, COALESCE(fc.c, 0) / tot.t AS importance
      FROM ft f LEFT JOIN fc ON fc.ford = f.ford CROSS JOIN tot
      ORDER BY feature"""))

  /** M9+A19: ROC-AUC over the binned tree's positive-class leaf
    * probabilities — oracle scores each row with its replayed leaf's
    * c1/n and reuses the quantized Mann-Whitney shape of roc_auc_synth.
    */
  val probaAuc: GraftQuery = GraftQuery(
    "tree_proba_auc",
    (s, dir) => {
      val d = labeled(s, dir)
      graft.metrics.Metrics.rocAuc(
        d.withColumn("score", model(s, dir, binned = true).probaOf(1L)),
        "score", "label")
    },
    Some(s"""${trainSql(binned = true)},
      lp AS MATERIALIZED (SELECT node, SUM(y*w) / GREATEST(SUM(w), 1) AS p
             FROM $leafRows GROUP BY node),
      sg AS MATERIALIZED (SELECT round(lp.p, 6) AS score,
                    CAST(SUM(a.y*a.w) AS BIGINT) AS np,
                    CAST(SUM(a.w) - SUM(a.y*a.w) AS BIGINT) AS nn
             FROM $leafRows a JOIN lp ON a.node = lp.node
             GROUP BY round(lp.p, 6)),
      cw AS MATERIALIZED (SELECT np, nn,
                    COALESCE(SUM(nn) OVER (ORDER BY score
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumnn
             FROM sg)
      SELECT round(SUM(np * (cumnn + nn / 2.0)) / (SUM(np) * SUM(nn)), 6) AS auc
      FROM cw"""))

  /** Per-sample decision paths (house_predict_model.ipynb cell 14) of the
    * binned tree, aggregated to (path, n); thresholds rendered %.6f in
    * both engines. The oracle renders each leaf's path once from `sp`:
    * heap ids encode the path, so split s lies k levels above leaf n when
    * (n+1) >> k = s+1, and the path went left at s when (n+1) >> (k-1)
    * is even.
    */
  val pathCounts: GraftQuery = GraftQuery(
    "tree_path_counts",
    (s, dir) => {
      val d = labeled(s, dir)
      d.withColumn("path",
          model(s, dir, binned = true).pathExpr(graft.tree.TreeModel.fmt6))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy("path")
    },
    Some(s"""${trainSql(binned = true)},
      $binnedSplitsSql,
      lpath AS MATERIALIZED (
        SELECT l.node, l.pred,
               string_agg(s.feature
                   || (CASE WHEN ((l.node + 1) >> (s.k - 1)) % 2 = 0
                            THEN ' <= ' ELSE ' > ' END)
                   || printf('%.6f', s.thr),
                 ' AND ' ORDER BY s.node) AS path
        FROM leaf_t l
        LEFT JOIN (SELECT sp.*, ft.feature, r.k
                   FROM sp JOIN ft ON ft.ford = sp.ford,
                        range(1, ${params.maxDepth + 1}) r(k)) s
          ON ((l.node + 1) >> s.k) = s.node + 1
        GROUP BY l.node, l.pred)
      SELECT COALESCE(p.path, '(root)')
               || ' => label=' || CAST(p.pred AS VARCHAR) AS path,
             CAST(SUM(a.w) AS BIGINT) AS n
      FROM $leafRows a JOIN lpath p ON a.node = p.node
      GROUP BY 1 ORDER BY path"""))

  override def queries: Seq[GraftQuery] = Seq(
    splitGains, trainConfusion, importance, trainBinned, probaAuc,
    pathCounts)
}
