package graft.stats

import graft.Q
import graft.transform.{BinModel, ColumnGrid, EqualWidthBinner, QuantileBinner}
import org.apache.spark.sql.DataFrame

/** The reference's profiling rule engine and adaptive binning designer
  * (data_analysis.ipynb cells 7-10, SURVEY §3 entry point 3).
  *
  * Per column: the [[ColumnGrid]] moments (one Spark job: exact
  * scaled-integer mean, cardinality, spread and central moments),
  * driver-side rule evaluation on the tiny result. All
  * thresholds are the reference's (cell 8): CV>1.0, |skew|>2,
  * kurtosis>3, unique_ratio>0.8, range>10·std. An all-null column is an
  * IllegalArgumentException naming it.
  */
object Profiling {

  final case class ColumnStats(
      column: String, n: Long, nUnique: Long, uniqueRatio: Double,
      mean: Double, std: Double, cv: Double, min: Double, max: Double,
      range: Double, skewness: Double, kurtosis: Double)

  def columnStats(df: DataFrame, cols: Seq[(String, Int)]): Seq[ColumnStats] = {
    val got = ColumnGrid(df, cols.map(_._1)).read(cols.toMap)
    cols.map { case (c, d) => columnStats(c, d, got(c).moments) }
  }

  /** Stats from a column's grid moments. Arithmetic per column: exact s1/n
    * over longs for the mean; skewness and kurtosis from the central
    * moments about that scaled mean, weighted by exact counts — inside
    * the same ulp band the two engines' differing accumulation orders
    * already span, and the outputs are r6-rounded ratios; std is the
    * m2-about-the-true-mean form stddev_samp converges to (the
    * profileNumeric r17 class, parity-pinned at both scales).
    */
  private def columnStats(c: String, d: Int, m: ColumnGrid.Moments): ColumnStats = {
    require(m.n > 0, s"no non-null rows to profile column $c")
    val scale = math.pow(10, d)
    val n = m.n.toDouble
    val mean = m.ssum * 1.0 / m.n / scale
    val std = math.sqrt(m.m2 / (n - 1))
    val (skew, kurt) = m.skewKurtosis
    ColumnStats(c, m.n, m.nd, m.nd * 1.0 / n, mean, std, std / mean,
      m.min, m.max, m.max - m.min, skew, kurt)
  }

  /** Overfitting-risk flags per column (cell 8 rules), flags as 0/1. */
  def riskFlags(df: DataFrame, cols: Seq[(String, Int)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    columnStats(df, cols).map { s =>
      val highCv = if (s.cv > 1.0) 1 else 0
      val highSkew = if (math.abs(s.skewness) > 2.0) 1 else 0
      val highKurt = if (s.kurtosis > 3.0) 1 else 0
      val highCard = if (s.uniqueRatio > 0.8) 1 else 0
      val wideRange = if (s.range > 10 * s.std) 1 else 0
      (s.column, s.nUnique, Q.r6Double(s.uniqueRatio), Q.r6Double(s.cv),
        Q.r6Double(s.skewness), Q.r6Double(s.kurtosis), highCv, highSkew,
        highKurt, highCard, wideRange,
        highCv + highSkew + highKurt + highCard + wideRange)
    }.toDF("column", "n_unique", "unique_ratio", "cv", "skewness",
      "kurtosis", "high_cv", "high_skew", "high_kurtosis",
      "high_cardinality", "wide_range", "risk_count")
      .orderBy("column")
  }

  /** Adaptive binning design (cell 10): strategy by unique-ratio/skew
    * thresholds, n_bins = clamp(floor(sqrt(n_unique)), 3, 10); returns
    * the design report and fitted bin models.
    */
  final case class BinDesign(
      column: String, strategy: String, nBins: Int, model: BinModel)

  def designBinning(
      df: DataFrame, cols: Seq[(String, Int)]): Seq[BinDesign] =
    designed(df, cols).map(_._1)

  /** One Spark job for any column count: the grid read that gives the
    * stats also gives every column's quantiles at each edge probability
    * i/k of k = 3..10 (the clamp of nBins), so the quantile models need
    * no second pass.
    */
  private def designed(
      df: DataFrame, cols: Seq[(String, Int)]): Seq[(BinDesign, ColumnStats)] = {
    val edgeProbs = (3 to 10).flatMap(QuantileBinner.edgeProbs).distinct
    val got = ColumnGrid(df, cols.map(_._1))
      .read(cols.toMap, cols.map(_._1 -> edgeProbs).toMap)
    cols.map { case (c, d) =>
      val s = columnStats(c, d, got(c).moments)
      val strategy =
        if (s.uniqueRatio > 0.5 || math.abs(s.skewness) > 1.0) "quantile"
        else "equal_width"
      val nBins = math.max(3, math.min(10, math.sqrt(s.nUnique.toDouble).toInt))
      val model = strategy match {
        case "quantile"    => QuantileBinner.fromQuantiles(c, nBins, got(c).quantiles)
        case "equal_width" => EqualWidthBinner.fromMinMax(c, nBins, s.min, s.max)
      }
      (BinDesign(c, strategy, nBins, model), s)
    }
  }

  def designReport(df: DataFrame, cols: Seq[(String, Int)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    designed(df, cols).map { case (d, s) =>
      (d.column, s.nUnique, Q.r6Double(s.uniqueRatio),
        Q.r6Double(s.skewness), d.strategy, d.nBins,
        d.model.nBins) // effective bins after duplicate-edge drop
    }.toDF("column", "n_unique", "unique_ratio", "skewness", "strategy",
      "n_bins", "effective_bins")
      .orderBy("column")
  }
}
