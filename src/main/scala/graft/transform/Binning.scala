package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Discretization with pandas-`cut` edge semantics (reference:
  * sol_2/house_predict.py:58-106, 131-144): intervals right-closed `(a,b]`,
  * `include_lowest` makes the first interval `[e0,e1]`, duplicate edges are
  * dropped (`duplicates='drop'`), and null / out-of-range values map to
  * code -1 (pandas NaN -> -1 under `.cat.codes`).
  *
  * Fit is one Spark job (exact quantiles, not `approxQuantile` — bin
  * boundaries must be exact for oracle parity);
  * transform compiles to a nested `when` chain — pure Catalyst expressions,
  * whole-stage-codegen friendly, no UDF, scale-independent.
  */
final case class BinModel(column: String, edges: Array[Double]) {
  require(edges.length >= 2, s"need >=2 distinct edges for $column")
  def nBins: Int = edges.length - 1

  /** Bucket-assignment expression implementing the `cut` semantics above:
    * the native codegen'd binary-search expression (O(log k) per row,
    * survives k in the thousands where a `when`-chain overflows codegen).
    */
  def expr: Column =
    graft.expressions.CutBucket.cutBucket(col(column).cast("double"), edges.toSeq)

  /** Equivalent composed-builtins form (O(k) `when`-chain) — kept for
    * plan comparison and as the no-custom-expression fallback.
    */
  def exprWhenChain: Column = {
    val c = col(column).cast("double")
    // e1..e(n-1) carry codes 0..n-2 (right-closed); anything still in range
    // is the last bucket. include_lowest is implied by the `< edges.head`
    // out-of-range guard.
    val base = when(
      c.isNull || c < lit(edges.head) || c > lit(edges.last), lit(-1))
    val chained = edges.tail.init.zipWithIndex.foldLeft(base) {
      case (acc, (e, i)) => acc.when(c <= lit(e), lit(i))
    }
    chained.otherwise(lit(nBins - 1)).cast("int")
  }

  def transform(df: DataFrame, out: String): DataFrame = df.withColumn(out, expr)
}

object Binning {
  /** duplicates='drop': collapse equal consecutive edges (sorted input). */
  def dedupEdges(edges: Array[Double]): Array[Double] = {
    val b = Array.newBuilder[Double]
    var last = Double.NaN
    edges.foreach { e => if (e != last) { b += e; last = e } }
    b.result()
  }

  /** Constant column: pandas `cut` raises; the engine degrades to a single
    * [v,v] bucket instead (documented divergence — a raise is useless in a
    * long-running distributed pipeline).
    */
  def atLeastOneBucket(edges: Array[Double]): Array[Double] =
    if (edges.length >= 2) edges else Array(edges.head, edges.head)
}

/** Equal-frequency binning: edges are exact quantiles i/n with the end
  * edges forced to the column min/max (house_predict.py:84-88).
  */
object QuantileBinner {

  def fit(df: DataFrame, column: String, nBins: Int): BinModel =
    fitMany(df, Seq(column -> nBins))(column)

  /** Batched EXACT quantile fit over the DISTINCT-VALUE grid: one
    * [[ColumnGrid]] read — one Spark job — fits every (column, nBins)
    * spec.
    *
    * Why not `percentile(...)`: Spark's exact Percentile aggregate keeps
    * a value→count map per partial and merges every partition's map in
    * ONE reducer — measured 147 s for 4 lineitem columns at 60M rows
    * (sf10), all of it single-threaded merge+sort. The grid counts each
    * column's values in its map tasks and streams each column's
    * distinct values (583k distinct prices in those same 60M rows) in
    * its own reduce task.
    *
    * Output parity: identical doubles to Spark `percentile` (and so to
    * the DuckDB `quantile_cont` oracles) — the grid replays
    * Percentile.getPercentile's interpolation operand for operand.
    * Grouping by the double-cast value is safe: numeric→double is
    * monotone, and where two wide longs collapse to one double,
    * Percentile's equal-key short-circuit returns that same double.
    * BinningSpec pins edge-for-edge equality against `percentile` on
    * real table columns; unbounded-domain streams at 100 TB use
    * [[fitApprox]]/HistQuantile instead (the grid is only as small as
    * the value domain).
    */
  def fitMany(df: DataFrame, specs: Seq[(String, Int)]): Map[String, BinModel] =
    if (specs.isEmpty) Map.empty
    else {
      val got = ColumnGrid(df, specs.map(_._1))
        .read(probs = specs.map { case (c, k) => c -> edgeProbs(k) }.toMap)
      specs.map { case (c, k) => c -> fromQuantiles(c, k, got(c).quantiles) }.toMap
    }

  /** The edge probabilities i/k, i = 0..k, of a `k`-bin fit. */
  def edgeProbs(k: Int): Seq[Double] = (0 to k).map(i => i.toDouble / k)

  /** The `k`-bin model of column `c` from its exact quantiles, which
    * must hold every [[edgeProbs]] of k; none means no non-null row.
    */
  def fromQuantiles(c: String, k: Int, quantiles: Map[Double, Double]): BinModel = {
    if (quantiles.isEmpty) throw new IllegalArgumentException(
      s"no non-null rows to fit quantile bins for $c")
    BinModel(c, Binning.atLeastOneBucket(
      Binning.dedupEdges(edgeProbs(k).map(quantiles).toArray)))
  }

  /** Scale path: Greenwald-Khanna approximate quantiles (single pass,
    * bounded memory per executor — exact `percentile` buffers every value
    * of a group in one reducer, which does not survive 100 TB).
    * `relativeError=0` degenerates to exact.
    */
  def fitApprox(
      df: DataFrame, column: String, nBins: Int,
      relativeError: Double = 0.001): BinModel = {
    val probs = (0 to nBins).map(i => i.toDouble / nBins).toArray
    val qs = df.stat.approxQuantile(column, probs, relativeError)
    val row = df.agg(
      min(col(column)).cast("double"), max(col(column)).cast("double")).head()
    qs(0) = row.getDouble(0)
    qs(qs.length - 1) = row.getDouble(1)
    BinModel(column, Binning.atLeastOneBucket(Binning.dedupEdges(qs)))
  }
}

/** Equal-width binning: edges linspace(min, max, n+1) computed on the fit
  * table (house_predict.py:81-83).
  */
object EqualWidthBinner {
  def fit(df: DataFrame, column: String, nBins: Int): BinModel = {
    val row = df
      .agg(min(col(column)).cast("double"), max(col(column)).cast("double"))
      .head()
    fromMinMax(column, nBins, row.getDouble(0), row.getDouble(1))
  }

  /** Build from already-known min/max (e.g. a prior profiling pass) —
    * zero extra scans; arithmetic identical to `fit`.
    */
  def fromMinMax(column: String, nBins: Int, mn: Double, mx: Double): BinModel = {
    val edges = (0 to nBins).map { i =>
      if (i == nBins) mx else mn + i * (mx - mn) / nBins
    }.toArray
    BinModel(column, Binning.atLeastOneBucket(Binning.dedupEdges(edges)))
  }
}
