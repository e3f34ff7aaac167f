package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Catalyst-evaluated reference for the trainer's split search: the
  * window form (melt features to rows -> groupBy -> ordered window cumsum
  * -> row_number best split) that the streaming scan in [[DecisionTree]]
  * must reproduce bit for bit.
  */
object SplitStatsReference {

  /** Impurity of class-count columns (reference vectorized entropy/gini,
    * house_predict.py:228-245). Count/total columns must be integer-typed.
    */
  def impurityExpr(counts: Seq[Column], n: Column, criterion: String): Column =
    criterion match {
      case "entropy" =>
        -counts.map(c => when(c > 0, (c / n) * log2(c / n)).otherwise(0.0))
          .reduce(_ + _)
      case "gini" =>
        lit(1.0) - counts.map(c => (c / n) * (c / n)).reduce(_ + _)
      case other => throw new IllegalArgumentException(s"criterion $other")
    }

  /** Per (node, feature, threshold) split statistics + information gain.
    *
    * Input columns: __node (int), label (long), plus features. Output:
    * (__node, feat, threshold, ln, tn, gain, l_ci.., t_ci..) where ln/l_ci
    * are cumulative (x <= threshold) counts and tn/t_ci non-null totals.
    * Rows violating minSamplesLeaf are dropped, and the MIN distinct value
    * is never a candidate (`unique_values[1:]`, house_predict.py:283).
    * Null feature values are excluded.
    */
  def splitStats(
      cur: DataFrame, features: Seq[String], labels: Seq[Long],
      criterion: String, minSamplesLeaf: Int): DataFrame = {
    val stackExpr = explode(array(features.map(f =>
      struct(lit(f).as("feat"), col(f).cast("double").as("value"))): _*))
    val melted = cur.select(col("__node"), col("label"), stackExpr.as("fv"))
      .select(col("__node"), col("label"), col("fv.feat"), col("fv.value"))
      .filter(col("value").isNotNull)
    val classAggs = labels.zipWithIndex.map { case (l, i) =>
      sum(when(col("label") === l, 1L).otherwise(0L)).as(s"c$i")
    }
    val grouped = melted.groupBy("__node", "feat", "value")
      .agg(count(lit(1)).as("n"), classAggs: _*)
    val wCum = Window.partitionBy("__node", "feat").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy("__node", "feat")
    val cums = labels.indices.foldLeft(
      grouped
        .withColumn("ln", sum("n").over(wCum))
        .withColumn("tn", sum("n").over(wAll))) { (df, i) =>
      df.withColumn(s"l_c$i", sum(s"c$i").over(wCum))
        .withColumn(s"t_c$i", sum(s"c$i").over(wAll))
    }
    val lCounts = labels.indices.map(i => col(s"l_c$i"))
    val rCounts = labels.indices.map(i => col(s"t_c$i") - col(s"l_c$i"))
    val tCounts = labels.indices.map(i => col(s"t_c$i"))
    val rn = col("tn") - col("ln")
    val hp = impurityExpr(tCounts, col("tn"), criterion)
    val hl = impurityExpr(lCounts, col("ln"), criterion)
    val hr = impurityExpr(rCounts, rn, criterion)
    cums
      .withColumn("__vmin", min("value").over(wAll))
      .filter(col("value") > col("__vmin") &&
        col("ln") >= minSamplesLeaf && rn >= minSamplesLeaf)
      .drop("__vmin")
      .withColumn(
        "gain", hp - (col("ln") / col("tn")) * hl - (rn / col("tn")) * hr)
      .withColumnRenamed("value", "threshold")
  }

  /** Best candidate per (node, feature): max gain, lowest threshold. */
  def bestSplits(stats: DataFrame): DataFrame = {
    val w = Window.partitionBy("__node", "feat")
      .orderBy(desc("gain"), asc("threshold"))
    stats.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }
}
