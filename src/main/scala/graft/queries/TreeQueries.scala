package graft.queries

import graft.{GraftQuery, Q, QueryPack, Tables}
import graft.tree.{DecisionTree, TreeParams}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Decision-tree queries (SURVEY §2.8 M8/M9, §2.4 A11-A14, A20).
  *
  * The FULL depth-3 level-wise trainer is oracle-checked: the DuckDB SQL
  * below replays training end to end — per-(node,feature,threshold)
  * cumulative gain tables, the reference's stopping rules and tie-breaks
  * (gain desc, feature order, lowest threshold; house_predict.py:283-334),
  * and per-level row routing — as three chained rounds of the
  * `split_gains_discount` CTE shape. The binned queries additionally
  * replay the exact-quantile bucketizer (`quantile_cont` is bit-identical
  * to Spark `percentile`, and the i/16 probs are dyadic => exact).
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
    Some("""
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
             round(
               (-(CASE WHEN tc0 > 0 THEN (tc0/tn)*log2(tc0/tn) ELSE 0.0 END
                  + CASE WHEN tc1 > 0 THEN (tc1/tn)*log2(tc1/tn) ELSE 0.0 END))
               - (ln/tn) * (-(CASE WHEN lc0 > 0 THEN (lc0/ln)*log2(lc0/ln) ELSE 0.0 END
                              + CASE WHEN lc1 > 0 THEN (lc1/ln)*log2(lc1/ln) ELSE 0.0 END))
               - ((tn-ln)/tn) * (-(CASE WHEN tc0-lc0 > 0 THEN ((tc0-lc0)/(tn-ln))*log2((tc0-lc0)/(tn-ln)) ELSE 0.0 END
                                   + CASE WHEN tc1-lc1 > 0 THEN ((tc1-lc1)/(tn-ln))*log2((tc1-lc1)/(tn-ln)) ELSE 0.0 END)),
               6) AS gain
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
  // DuckDB replay of the depth-3 level-wise trainer.
  // ---------------------------------------------------------------------

  /** Per-candidate entropy gain in the same operand order as the
    * trainer's split scan (`DecisionTree.impurity` and its gain), so both
    * engines produce bit-identical doubles; `split_gains_discount` checks
    * this cross-engine.
    */
  private[queries] val gainSql =
    """(-(CASE WHEN tc0 > 0 THEN (tc0/tn)*log2(tc0/tn) ELSE 0.0 END
          + CASE WHEN tc1 > 0 THEN (tc1/tn)*log2(tc1/tn) ELSE 0.0 END))
       - (ln/tn) * (-(CASE WHEN lc0 > 0 THEN (lc0/ln)*log2(lc0/ln) ELSE 0.0 END
                      + CASE WHEN lc1 > 0 THEN (lc1/ln)*log2(lc1/ln) ELSE 0.0 END))
       - ((tn-ln)/tn) * (-(CASE WHEN tc0-lc0 > 0 THEN ((tc0-lc0)/(tn-ln))*log2((tc0-lc0)/(tn-ln)) ELSE 0.0 END
                           + CASE WHEN tc1-lc1 > 0 THEN ((tc1-lc1)/(tn-ln))*log2((tc1-lc1)/(tn-ln)) ELSE 0.0 END))"""

  /** val-of-winning-feature expression for row alias `a` vs best alias `b`. */
  private val bValSql =
    "(CASE b.ford WHEN 0 THEN a.f0 WHEN 1 THEN a.f1 WHEN 2 THEN a.f2 ELSE a.f3 END)"

  private val fordNameSql =
    "(CASE b.ford WHEN 0 THEN 'l_quantity' WHEN 1 THEN 'l_discount'" +
      " WHEN 2 THEN 'l_tax' ELSE 'l_extendedprice' END)"

  /** One training level: searchable-node filter (reference stopping rules
    * house_predict.py:325-334), melted gain table with minSamplesLeaf and
    * lowest-distinct-value pruning, per-node winner (gain desc, feature
    * order asc, threshold asc, strict gain > 0), and row routing to
    * 2*node+1 / 2*node+2 (leaf rows keep their node — heap ids are unique
    * so the last assignment IS the leaf).
    */
  private def levelSql(l: Int, binned: Boolean): String = {
    // path thresholds: exact mode prints the raw split value; binned mode
    // maps bucket code c back to edges(c+1) (right-closed buckets), i.e.
    // 1-based e[c+2], exactly DecisionTree.fit's thresholdOf
    val thrSql =
      if (binned)
        "printf('%.6f', (CASE b.ford WHEN 0 THEN e0.e[CAST(b.thr AS INTEGER)+2]" +
          " WHEN 1 THEN e1.e[CAST(b.thr AS INTEGER)+2]" +
          " WHEN 2 THEN e2.e[CAST(b.thr AS INTEGER)+2]" +
          " ELSE e3.e[CAST(b.thr AS INTEGER)+2] END))"
      else "printf('%.6f', b.thr)"
    val edgeJoin = if (binned) ", e0, e1, e2, e3" else ""
    s"""
      sr$l AS MATERIALIZED (SELECT node FROM a$l GROUP BY node
               HAVING SUM(w) >= ${params.minSamplesSplit}
                  AND SUM(y*w) > 0 AND SUM(w) - SUM(y*w) > 0),
      aj$l AS MATERIALIZED (SELECT a.* FROM a$l a JOIN sr$l s ON a.node = s.node),
      m$l AS MATERIALIZED (
        SELECT node, 0 AS ford, f0 AS v, y, w FROM aj$l
        UNION ALL SELECT node, 1, f1, y, w FROM aj$l
        UNION ALL SELECT node, 2, f2, y, w FROM aj$l
        UNION ALL SELECT node, 3, f3, y, w FROM aj$l),
      g$l AS MATERIALIZED (SELECT node, ford, v, CAST(SUM(w) AS BIGINT) AS n,
                     CAST(SUM(y*w) AS BIGINT) AS c1,
                     CAST(SUM(w) - SUM(y*w) AS BIGINT) AS c0
              FROM m$l GROUP BY node, ford, v),
      c$l AS MATERIALIZED (SELECT node, ford, v,
                     SUM(n)  OVER wc AS ln,  SUM(n)  OVER wa AS tn,
                     SUM(c0) OVER wc AS lc0, SUM(c0) OVER wa AS tc0,
                     SUM(c1) OVER wc AS lc1, SUM(c1) OVER wa AS tc1,
                     MIN(v)  OVER wa AS vmin
              FROM g$l
              WINDOW wc AS (PARTITION BY node, ford ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     wa AS (PARTITION BY node, ford)),
      s$l AS MATERIALIZED (SELECT node, ford, v, $gainSql AS gain
              FROM c$l
              WHERE v > vmin AND ln >= ${params.minSamplesLeaf}
                AND tn - ln >= ${params.minSamplesLeaf}),
      b$l AS MATERIALIZED (SELECT node, ford, v AS thr
              FROM s$l WHERE gain > 0
              QUALIFY row_number() OVER (PARTITION BY node
                ORDER BY gain DESC, ford ASC, v ASC) = 1),
      a${l + 1} AS MATERIALIZED (
        SELECT a.f0, a.f1, a.f2, a.f3, a.y, a.w,
               CASE WHEN b.node IS NULL THEN a.node
                    WHEN $bValSql <= b.thr THEN 2*a.node+1
                    ELSE 2*a.node+2 END AS node,
               CASE WHEN b.node IS NULL THEN a.path
                    ELSE a.path || (CASE WHEN a.path = '' THEN '' ELSE ' AND ' END)
                         || $fordNameSql
                         || (CASE WHEN $bValSql <= b.thr THEN ' <= ' ELSE ' > ' END)
                         || $thrSql
               END AS path
        FROM a$l a LEFT JOIN b$l b ON a.node = b.node$edgeJoin)"""
  }

  /** The full 3-level training chain. Exact mode melts raw (double-cast)
    * feature values; binned mode first fits 16 exact-quantile edges per
    * feature (`QuantileBinner.fitMany` semantics: dedup'd sorted edges,
    * the i/16 probs are exact dyadic doubles) and trains on bucket codes
    * (= count of interior edges strictly below the value — the `cut`
    * right-closed chain in closed form).
    */
  private def trainSql(binned: Boolean): String = {
    val probs = (0 to nBins).map(i => i.toDouble / nBins).mkString("[", ", ", "]")
    val rawF = Seq(
      "CAST(l_quantity AS DOUBLE)", "CAST(l_discount AS DOUBLE)",
      "CAST(l_tax AS DOUBLE)", "CAST(l_extendedprice AS DOUBLE)")
    val base =
      if (!binned)
        // exact mode: continuous feature values don't collapse — carry
        // the data-sized frame with unit weights (SUM(w) == COUNT(*),
        // so every downstream statistic is unchanged)
        s"""a0 AS MATERIALIZED (
          SELECT ${rawF(0)} AS f0, ${rawF(1)} AS f1,
                 ${rawF(2)} AS f2, ${rawF(3)} AS f3,
                 CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
                 0 AS node, '' AS path, 1 AS w
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
        // over the raw frame; routing and path depend only on the bin
        // vector, so distinct rows stay bounded at every level. This is
        // what makes the trainer oracle replayable at the 600M-row rung
        // (the per-row a$l chain needed >55 GB of DuckDB temp and died
        // on disk at sf100).
        s"""$es,
        a0 AS MATERIALIZED (
          SELECT f0, f1, f2, f3, y, 0 AS node, '' AS path,
                 COUNT(*) AS w
          FROM (SELECT $codes,
                 CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
          FROM lineitem, e0, e1, e2, e3)
          GROUP BY f0, f1, f2, f3, y)"""
      }
    s"WITH $base,\n${(0 until params.maxDepth).map(levelSql(_, binned)).mkString(",\n")}"
  }

  // DuckDB inlines non-materialized CTEs per reference; the level CTEs
  // reference their winner table `b$l` 4+ times inside routing/path CASE
  // expressions, so inlining recomputes the whole upstream trainer
  // pipeline ~4^depth times (observed: tree_path_counts >6 min at sf0.01
  // vs 1.7 s materialized — slow enough to time out the entire
  // correctness gate). Every SELECT CTE in this family is therefore
  // written `AS MATERIALIZED (` directly at construction (a post-hoc
  // regex rewrite silently missed new shapes); WINDOW definitions and
  // the tiny single-reference VALUES table stay plain.

  private val leafSql =
    """leaf AS MATERIALIZED (SELECT node,
                       CASE WHEN SUM(y*w) > SUM(w) - SUM(y*w) THEN 1 ELSE 0 END AS pred
                FROM a3 GROUP BY node)"""

  private def confusionSql(binned: Boolean): String =
    s"""${trainSql(binned)},
      $leafSql
      SELECT CAST(a.y AS BIGINT) AS label, CAST(l.pred AS BIGINT) AS pred,
             CAST(SUM(a.w) AS BIGINT) AS n
      FROM a3 a JOIN leaf l ON a.node = l.node
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
      sp AS MATERIALIZED (SELECT ford FROM b0 UNION ALL SELECT ford FROM b1
             UNION ALL SELECT ford FROM b2),
      fc AS MATERIALIZED (SELECT ford, COUNT(*) AS c FROM sp GROUP BY ford),
      ft(ford, feature) AS (VALUES (0, 'l_quantity'), (1, 'l_discount'),
                                   (2, 'l_tax'), (3, 'l_extendedprice')),
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
             FROM a3 GROUP BY node),
      sg AS MATERIALIZED (SELECT round(lp.p, 6) AS score,
                    CAST(SUM(a.y*a.w) AS BIGINT) AS np,
                    CAST(SUM(a.w) - SUM(a.y*a.w) AS BIGINT) AS nn
             FROM a3 a JOIN lp ON a.node = lp.node
             GROUP BY round(lp.p, 6)),
      cw AS MATERIALIZED (SELECT np, nn,
                    COALESCE(SUM(nn) OVER (ORDER BY score
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumnn
             FROM sg)
      SELECT round(SUM(np * (cumnn + nn / 2.0)) / (SUM(np) * SUM(nn)), 6) AS auc
      FROM cw"""))

  /** Per-sample decision paths (house_predict_model.ipynb cell 14) of the
    * binned tree, aggregated to (path, n); thresholds rendered %.6f in
    * both engines.
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
      $leafSql
      SELECT (CASE WHEN a.path = '' THEN '(root)' ELSE a.path END)
               || ' => label=' || CAST(l.pred AS VARCHAR) AS path,
             CAST(SUM(a.w) AS BIGINT) AS n
      FROM a3 a JOIN leaf l ON a.node = l.node
      GROUP BY 1 ORDER BY path"""))

  override def queries: Seq[GraftQuery] = Seq(
    splitGains, trainConfusion, importance, trainBinned, probaAuc,
    pathCounts)
}
