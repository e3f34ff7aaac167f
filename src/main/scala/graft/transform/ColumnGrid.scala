package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The per-column distinct-value grid: ONE melted scan of `cols` counts
  * each (column, value) occurrence, and every per-column statistic the
  * profiling, binning and moment operators report is read off those
  * counts — bounded by the value DOMAINS, not the row count (guide §6;
  * LMFAO's shared aggregate view).
  *
  * Contract:
  *  - rows (g: int, v: double, cnt: long), `g` the column's position in
  *    the (de-duplicated) `cols`, `v` the value cast to double, `cnt` its
  *    occurrence count. The int code (not the name string) is the group
  *    key so the melted rows hash and shuffle a 4-byte key; the code ↔
  *    name mapping never leaves this class — readers take and return
  *    column names.
  *  - null values stay in the grid as their own (g, null, cnt) rows, so
  *    the null count rides the same scan; every reader skips them (a
  *    `when(v IS NOT NULL)` or a filter, which Catalyst pushes below the
  *    grid aggregate, so a reader that drops nulls plans exactly like a
  *    grid built without them).
  *  - the grid is lazy; [[localCheckpoint]] materializes it once for
  *    callers with several readers. A single-reader caller (the quantile
  *    fit) keeps it lazy: no extra job.
  */
final class ColumnGrid private (cols: Seq[String], counts: DataFrame) {
  import ColumnGrid.Moments

  private val nn = col("v").isNotNull

  /** Materialize the grid once (one job) for several readers. */
  def localCheckpoint(): ColumnGrid = new ColumnGrid(cols, counts.localCheckpoint())

  /** `f(i)` on the rows of column code `i`: the per-column expression fold. */
  private def perCol(f: Int => Column): Column =
    cols.indices.tail.foldLeft(when(col("g") === 0, f(0))) { (acc, i) =>
      acc.when(col("g") === i, f(i))
    }

  /** Per-column [[Moments]] in two grid aggregations (two jobs). `decimals`
    * gives each column's fixed decimal scale d: the scaled value is
    * round(v·10^d), the same double the per-row `Stats.scaled` computed,
    * taken once per distinct value and weighted by its exact count.
    */
  def moments(decimals: Map[String, Int]): Map[String, Moments] = {
    val scaledV =
      perCol(i => round(col("v") * math.pow(10, decimals(cols(i))))).cast("long")
    val p1 = counts.groupBy("g").agg(
      coalesce(sum(when(nn, col("cnt"))), lit(0L)).as("n"),
      coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).as("nulls"),
      coalesce(sum(when(nn, 1L)), lit(0L)).as("nd"),
      coalesce(sum(when(nn, col("cnt") * scaledV)), lit(0L)).as("ssum"),
      min(col("v")).as("mn"),
      max(col("v")).as("mx"),
      sum(when(nn, col("cnt") * col("v"))).as("sv")
    ).collect().map { r =>
      def dbl(i: Int) = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
      r.getInt(0) -> Moments(r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), dbl(5), dbl(6), dbl(7))
    }.toMap.withDefaultValue(Moments(0L, 0L, 0L, 0L, Double.NaN, Double.NaN, Double.NaN))
    // pass 2: central moments about the exact scaled mean (s2..s4) and
    // the sample second moment about the raw mean (m2, the value
    // stddev_samp converges to); multiplications instead of pow()
    val dltS = scaledV.cast("double") - perCol(i => lit(p1(i).ssum * 1.0 / p1(i).n))
    val d2 = dltS * dltS
    val dltR = col("v") - perCol(i => lit(p1(i).sv / p1(i).n))
    val p2 = counts.filter(nn).groupBy("g").agg(
      sum(col("cnt") * d2).as("s2"),
      sum(col("cnt") * d2 * dltS).as("s3"),
      sum(col("cnt") * d2 * d2).as("s4"),
      sum(col("cnt") * dltR * dltR).as("m2")
    ).collect().map(r => r.getInt(0) -> r).toMap
    cols.indices.map { i =>
      cols(i) -> p2.get(i).fold(p1(i)) { r =>
        p1(i).copy(s2 = r.getDouble(1), s3 = r.getDouble(2),
          s4 = r.getDouble(3), m2 = r.getDouble(4))
      }
    }.toMap
  }

  /** Exact quantiles of the non-null values ([[GridQuantiles]]' replay
    * of `Percentile.getPercentile`), one job for every column: `probs`
    * per column name; each column's quantiles come back in `probs`
    * order. A column without a non-null value is absent from the result.
    */
  def quantiles(probs: Map[String, Seq[Double]]): Map[String, Seq[Double]] = {
    val spark = counts.sparkSession
    import spark.implicits._
    val probsDf = probs.toSeq.flatMap { case (c, ps) =>
      ps.zipWithIndex.map { case (p, i) => (cols.indexOf(c), i, p) }
    }.toDF("g", "i", "p")
    GridQuantiles.quantilesFromCounts(counts.filter(nn), broadcast(probsDf))
      .collect().groupBy(_.getInt(0)).map { case (g, rs) =>
        cols(g) -> rs.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq
      }
  }
}

object ColumnGrid {

  /** Melt `cols` (each cast to double) into the grid; lazy. */
  def apply(df: DataFrame, cols: Seq[String]): ColumnGrid = {
    val names = cols.distinct
    val kvCols = names.zipWithIndex.flatMap { case (c, i) =>
      Seq(lit(i), col(c).cast("double")) }
    new ColumnGrid(names,
      df.select(explode(map(kvCols: _*)).as(Seq("g", "v")))
        .groupBy("g", "v").agg(count(lit(1)).as("cnt")))
  }

  /** One column's grid statistics. Pass 1: `n` non-null rows, `nulls`,
    * `nd` distinct non-null values, `ssum` = Σ cnt·round(v·10^d) as an
    * exact long, `min`, `max`, `sv` = Σ cnt·v. Pass 2, about the scaled
    * mean ssum/n: `s2`, `s3`, `s4` = Σ cnt·(x − ssum/n)^k over the scaled
    * x; about the raw mean sv/n: `m2` = Σ cnt·(v − sv/n)². A column with
    * no non-null value has n = 0, ssum = 0 and NaN everywhere else.
    */
  final case class Moments(
      n: Long, nulls: Long, nd: Long, ssum: Long,
      min: Double, max: Double, sv: Double,
      s2: Double = Double.NaN, s3: Double = Double.NaN,
      s4: Double = Double.NaN, m2: Double = Double.NaN) {

    /** Bias-corrected sample skewness G1 and excess kurtosis G2 (pandas
      * semantics, SURVEY §7.4.5) from the scaled central moments.
      */
    def skewKurtosis: (Double, Double) = {
      val n = this.n.toDouble
      val (k2, k3, k4) = (s2 / n, s3 / n, s4 / n)
      val g1 = k3 / math.pow(k2, 1.5)
      val skew = g1 * math.sqrt(n * (n - 1)) / (n - 2)
      val g2 = k4 / (k2 * k2) - 3.0
      val kurt = ((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3))
      (skew, kurt)
    }
  }
}
