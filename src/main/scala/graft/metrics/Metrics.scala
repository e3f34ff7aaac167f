package graft.metrics

import graft.Q
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classification metrics as aggregation queries (SURVEY §2.4 A16-A19).
  * Macro-averaged P/R/F1 with sklearn `zero_division=0` semantics — a
  * class never predicted contributes F1=0 (this is what exposes the
  * reference's degenerate 0.4365 baseline, SURVEY §7.4.4).
  *
  * Everything reduces via groupBy on (label, pred) or distinct scores
  * first — the expensive input is aggregated once, all metric math runs on
  * the tiny per-class/per-score result.
  */
object Metrics {

  /** Correct rows over all rows from the (label, pred) counts: bit for
    * bit the average of 1.0/0.0 per row; a null label or pred is wrong. */
  def accuracy(df: DataFrame, labelCol: String, predCol: String): DataFrame =
    pairCounts(df, labelCol, predCol).agg(Q.r6(
      sum(when(col("label") === col("pred"), col("n")).otherwise(0L)) * 1.0 /
        sum("n")).as("accuracy"))

  /** Confusion counts, one row per (label, pred) pair. */
  def confusion(df: DataFrame, labelCol: String, predCol: String): DataFrame =
    pairCounts(df, labelCol, predCol).orderBy("label", "pred")

  /** (label, pred, n): the one aggregate every metric here reads. The
    * metrics of one scored frame share its exchange and scan it once, as
    * long as no filter is pushed below it.
    */
  private def pairCounts(df: DataFrame, labelCol: String, predCol: String): DataFrame =
    df.groupBy(col(labelCol).as("label"), col(predCol).as("pred"))
      .agg(count(lit(1)).as("n"))

  /** Per-class support/tp/fp/fn and precision/recall/f1 (zero_division=0).
    * Classes = distinct labels ∪ distinct predictions; a null label and a
    * null prediction are two classes. The true positives ride the label
    * sums: a separate filtered, left-joined diagonal would have its filter
    * pushed below the shared count exchange.
    */
  def perClass(df: DataFrame, labelCol: String, predCol: String): DataFrame = {
    val pairs = pairCounts(df, labelCol, predCol)
    val byLabel = pairs.groupBy(col("label").as("cls")).agg(
      sum("n").as("support"),
      sum(when(col("label") === col("pred"), col("n"))).as("tp"))
    val byPred = pairs.groupBy(col("pred").as("cls"))
      .agg(sum("n").as("n_pred"))
    val zero = lit(0L)
    byLabel
      .join(byPred, Seq("cls"), "full_outer")
      .select(
        col("cls"),
        coalesce(col("support"), zero).as("support"),
        coalesce(col("n_pred"), zero).as("n_pred"),
        coalesce(col("tp"), zero).as("tp"))
      .withColumn(
        "precision",
        when(col("n_pred") > 0, col("tp") * 1.0 / col("n_pred")).otherwise(0.0))
      .withColumn(
        "recall",
        when(col("support") > 0, col("tp") * 1.0 / col("support")).otherwise(0.0))
      .withColumn(
        "f1",
        when(col("precision") + col("recall") > 0,
          lit(2) * col("precision") * col("recall") /
            (col("precision") + col("recall"))).otherwise(0.0))
  }

  /** Unweighted macro average of per-class metrics — one row. */
  def macroAvg(df: DataFrame, labelCol: String, predCol: String): DataFrame =
    perClass(df, labelCol, predCol).agg(
      Q.r6(avg("precision")).as("macro_precision"),
      Q.r6(avg("recall")).as("macro_recall"),
      Q.r6(avg("f1")).as("macro_f1"))

  /** Support-weighted average of per-class metrics (sklearn
    * average='weighted') — one row.
    */
  def weightedAvg(df: DataFrame, labelCol: String, predCol: String): DataFrame =
    perClass(df, labelCol, predCol).agg(
      Q.r6(sum(col("precision") * col("support")) / sum("support"))
        .as("weighted_precision"),
      Q.r6(sum(col("recall") * col("support")) / sum("support"))
        .as("weighted_recall"),
      Q.r6(sum(col("f1") * col("support")) / sum("support"))
        .as("weighted_f1"))

  /** ROC-AUC via the Mann-Whitney U statistic with midrank tie handling,
    * computed scale-out: scores are first quantized to 1e-6 (the output
    * precision) so the distinct-score domain is BOUNDED (≤ ~2M rows for
    * scores in [-1,1]) even for continuous model probabilities, then
    * (n_pos, n_neg) aggregate per distinct score and a cumulative window
    * runs over that small set — never a single task over ~n raw rows.
    * Equivalent to sklearn.roc_auc_score at 1e-6 score precision.
    * `labelCol` must be 0/1.
    */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val g = df.groupBy(Q.r6(col(scoreCol)).as("score"))
      .agg(
        sum(col(labelCol).cast("long")).as("np"),
        (count(lit(1)) - sum(col(labelCol).cast("long"))).as("nn"))
    val w = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cumnn", coalesce(sum("nn").over(w), lit(0L)))
      .agg(
        Q.r6(
          sum(col("np") * (col("cumnn") + col("nn") / 2.0)) /
            (sum("np") * sum("nn"))).as("auc"))
  }

  /** Reliability diagram (calibration curve) + per-bin Brier score for
    * a probabilistic classifier, on an exact integer score grid: scores
    * arrive as MILLIS in [0, 1000) (score = m/1000), so binning and
    * every sum are exact integers and only the three final divisions
    * touch floats — the bin table is bit-identical across engines and
    * partitionings. One hash aggregation over the scored set; nBins
    * must divide 1000.
    *
    * @return nBins rows: (bin, n, mean_score, frac_pos, brier)
    */
  def calibrationBins(
      df: DataFrame, millisCol: Column, labelCol: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins > 0 && 1000 % nBins == 0, s"nBins $nBins must divide 1000")
    val width = 1000 / nBins
    df.select(millisCol.cast("long").as("m"),
        labelCol.cast("long").as("y"))
      .withColumn("bin", expr(s"m div $width"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n"),
        sum("m").as("sm"),
        sum("y").as("ny"),
        sum(expr("(m - 1000 * y) * (m - 1000 * y)")).as("ssq"))
      .select(col("bin"), col("n"),
        Q.r6(col("sm") / 1000.0 / col("n")).as("mean_score"),
        Q.r6(col("ny") * 1.0 / col("n")).as("frac_pos"),
        Q.r6(col("ssq") / 1000000.0 / col("n")).as("brier"))
      .orderBy("bin")
  }

  /** Precision–recall curve + average precision, the threshold-choice
    * companion to [[rocAuc]] (PR is the right lens when positives are
    * rare — class-imbalanced quality gates, contamination screens).
    * Same scale shape as rocAuc: scores quantize to the 1e-6 grid, ONE
    * hash aggregation collapses the input to the bounded distinct-score
    * frame, and the cumulative window runs over that small grid only.
    *
    * AP is the sklearn step-wise sum Σ (R_i − R_{i−1})·P_i over
    * descending thresholds. Each term is a double expression over exact
    * integer counts (identical in both engines), rounded to integer
    * micro-units per threshold and then SUMMED AS INTEGERS, so the
    * total is independent of partitioning/accumulation order. The
    * per-threshold rounding costs up to 0.5 micro each, so `ap_micro`
    * can drift from round(AP*1e6) by up to T/2 micro over T distinct
    * scores (~1e3 micro on a dense 1e-6 grid with ~2M thresholds) —
    * order-independence is bought at that documented error bound; do
    * not treat `ap_micro` as exact to 1e-6 on dense score grids.
    *
    * @return one row per distinct score, descending: (score, n_pos,
    *         cum_tp, cum_fp, precision, recall, term_micro, ap_micro)
    *         with ap_micro constant across rows (AP·1e6).
    */
  def prCurve(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val g = df.groupBy(Q.r6(col(scoreCol)).as("score"))
      .agg(
        sum(col(labelCol).cast("long")).as("np"),
        (count(lit(1)) - sum(col(labelCol).cast("long"))).as("nn"))
    val w = Window.orderBy(desc("score"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.partitionBy()
    val c = g.select(col("score"), col("np"),
      sum("np").over(w).as("ctp"), sum("nn").over(w).as("cfp"),
      sum("np").over(all).as("tp"))
    val prec = col("ctp") * 1.0 / (col("ctp") + col("cfp"))
    c.select(col("score"), col("np").as("n_pos"),
        col("ctp").as("cum_tp"), col("cfp").as("cum_fp"),
        Q.r6(prec).as("precision"),
        Q.r6(col("ctp") * 1.0 / col("tp")).as("recall"),
        floor(col("np") * 1.0 / col("tp") * prec * 1e6 + 0.5)
          .cast("long").as("term_micro"))
      .withColumn("ap_micro", sum("term_micro").over(all))
      .orderBy(desc("score"))
  }

  /** Decile gains/lift table: rows ranked by score (unique `keyCol`
    * tiebreak so the order — and therefore how tied scores split across
    * decile boundaries — is fully deterministic), cut into 10
    * equal-population rank deciles, each reporting its positive rate,
    * cumulative capture of all positives, and lift over the base rate.
    * The campaign-targeting / quality-threshold readout between the
    * full [[prCurve]] and a single AUC number.
    *
    * The descending rank runs DISTRIBUTED over the scored frame
    * ([[graft.transform.DistRank]]: score-bucketed parallel local sorts
    * + exact prefix offsets — no single-task global window), which also
    * carries the per-row running positive count, so cum_capture is the
    * decile's max running count and needs no window over the decile
    * frame either. The row count and positive total attach as a
    * broadcast 1-row aggregate. All rates are exact integer counts
    * divided once. `scoreCol` must be non-null numeric (DistRank's
    * bucket-key contract).
    */
  def liftDeciles(
      df: DataFrame, scoreCol: Column, labelCol: Column,
      keyCol: Column): DataFrame = {
    val sel = df.select(scoreCol.as("s"), labelCol.cast("long").as("y"),
      keyCol.as("id"))
    graft.transform.DistRank.withRowNumber(
        sel, negate(col("s")), Seq(desc("s"), col("id")),
        cums = Seq("y" -> "cy"),
        totalCountCol = Some("nr"), totalSumCols = Seq("y" -> "tp"))
      // rn is already BIGINT (DistRank), so the *10 stays 64-bit — the
      // DuckDB twin computes the same product in BIGINT
      .groupBy(expr("(rn - 1) * 10 div nr").as("decile"))
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
        max("cy").as("cum_pos"), max("nr").as("nr"), max("tp").as("tp"))
      .select(col("decile"), col("n"), col("n_pos"),
        Q.r6(col("n_pos") * 1.0 / col("n")).as("pos_rate"),
        Q.r6(col("cum_pos") * 1.0 / col("tp")).as("cum_capture"),
        Q.r6((col("n_pos") * 1.0 / col("n")) /
          (col("tp") * 1.0 / col("nr"))).as("lift"))
      .orderBy("decile")
  }
}
