package graft.transform

import graft.Q
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale/clip transforms beyond standardization — min-max to [0,1],
  * robust (median/IQR), and quantile winsorization — rounding out the
  * reference's feature-prep family (house_predict.py:84-100 fit/apply
  * shape, Sol_2.ipynb cell 7 scaling). One wide aggregation fits every
  * statistic (exact interpolated percentiles + min/max in a single
  * pass); transforms are pure projections on driver-held scalars, so
  * application is a zero-shuffle scan at any scale.
  */
object Scaling {

  final case class ScaleStats(
      column: String, mn: Double, mx: Double,
      p01: Double, p25: Double, p50: Double, p75: Double, p99: Double) {

    /** (x - min) / (max - min), r6-rounded. */
    def minMax(c: Column): Column = Q.r6((c - mn) / (mx - mn))

    /** (x - median) / IQR, r6-rounded — outlier-insensitive z-score. */
    def robustZ(c: Column): Column = Q.r6((c - p50) / (p75 - p25))

    /** Winsorize: clip into [p01, p99], r6-rounded. */
    def winsorize(c: Column): Column =
      Q.r6(least(greatest(c, lit(p01)), lit(p99)))
  }

  /** Fit min/max + the p01/p25/p50/p75/p99 grid in one Spark job over
    * the column's distinct-value grid ([[ColumnGrid]]) — exact
    * linear-interpolated percentiles, value-identical to Spark's
    * `percentile` and DuckDB `quantile_cont`. The previous form used the
    * exact `percentile` aggregate, which merges every partition's
    * value→count map in ONE reducer — the single-task bottleneck
    * [[QuantileBinner.fitMany]] measured at 147 s for 4 columns at sf10
    * (r16: guide §5, no single-task data work). min/max ride the same
    * read as p=0 / p=1 (integral rank positions resolve to the extreme
    * grid values exactly).
    */
  def fit(df: DataFrame, column: String): ScaleStats = {
    val ps = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0)
    val got = ColumnGrid(df, Seq(column)).read(probs = Map(column -> ps))(column)
    if (got.quantiles.isEmpty) throw new IllegalArgumentException(
      s"Scaling.fit: column '$column' has no non-null rows")
    val q = ps.map(got.quantiles)
    ScaleStats(column, q(0), q(6), q(1), q(2), q(3), q(4), q(5))
  }
}
