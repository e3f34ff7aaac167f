package graft.transform

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.ShuffledRDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** The per-column distinct-value grid: every per-column statistic the
  * profiling, binning and moment operators report — counts, exact scaled
  * sums, central moments and exact quantiles — is read off the
  * (column, value) counts in ONE Spark job, bounded by the value DOMAINS
  * rather than the row count (LMFAO's one shared pass for a batch of
  * aggregates).
  *
  * A read is one shuffle:
  *  - each map task counts every column's values locally (-0.0 folded to
  *    0.0, all NaNs one value, nulls counted apart) and sends one run per
  *    column: a header (its non-null count, null count, exact scaled sum
  *    and raw sum) and its distinct values in Spark's double order with
  *    their counts;
  *  - the shuffle partitions on the column;
  *  - each reduce task streams each of its columns once: the headers
  *    give n and both means before the first value, then the runs merge
  *    into one ordered stream of distinct values, equal values summed,
  *    and the central moments and the quantiles' rank positions are
  *    folded in that pass.
  *
  * The column ↔ int code mapping never leaves this file: readers pass and
  * get column names.
  */
final class ColumnGrid private (df: DataFrame, cols: Seq[String]) {
  import ColumnGrid._

  /** One job: [[Summary]] per column. `decimals` gives the fixed decimal
    * scale d of each column whose scaled moments are wanted, `probs` the
    * probabilities whose exact quantiles are wanted. A NaN, ±Inf or
    * out-of-range value in a scaled column is an ArithmeticException
    * naming it.
    */
  def read(
      decimals: Map[String, Int] = Map.empty,
      probs: Map[String, Seq[Double]] = Map.empty): Map[String, Summary] = {
    val k = cols.size
    val got = summarize(df.select(cols.map(col(_).cast("double")): _*), k,
      cols.map(decimals.getOrElse(_, NoScale)).toArray,
      cols.map(c => probs.getOrElse(c, Nil).distinct.toArray).toArray) { (r, t) =>
      var i = 0
      while (i < k) {
        if (r.isNullAt(i)) t(i).nulls += 1 else t(i).add(r.getDouble(i), 1L)
        i += 1
      }
    }
    cols.indices.map { i =>
      if (!got(i).exact) throw new ArithmeticException(
        s"column ${cols(i)}: no exact scaled sum at ${decimals(cols(i))} decimals")
      cols(i) -> got(i)
    }.toMap
  }
}

object ColumnGrid {

  /** The grid of `cols` (each cast to double) of `df`; nothing runs until
    * [[ColumnGrid.read]]. */
  def apply(df: DataFrame, cols: Seq[String]): ColumnGrid =
    new ColumnGrid(df, cols.distinct)

  /** One column's read: its [[Moments]] and the exact quantile of each
    * requested probability, keyed by it (none without a non-null value);
    * `exact` is false when its scaled sum has no exact long value.
    */
  final case class Summary(
      moments: Moments, quantiles: Map[Double, Double], exact: Boolean = true)

  /** One column's grid statistics. Known from the headers: `n` non-null
    * rows, `nulls`, `ssum` = Σ cnt·round(v·10^d) as an exact long, and
    * `sv` = Σ cnt·v. From the values in ascending order: `nd` distinct
    * non-null values, `min`, `max`; about the scaled mean ssum/n, `s2`,
    * `s3`, `s4` = Σ cnt·(x − ssum/n)^k over the scaled x; about the raw
    * mean sv/n, `m2` = Σ cnt·(v − sv/n)². A column with no non-null value
    * has n = 0, ssum = 0 and NaN everywhere else; one read without a
    * decimal scale has ssum = 0 and NaN `s2`..`s4`.
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

  /** `decimals` entry of a code whose scaled moments are not wanted. */
  private[transform] val NoScale = -1

  /** One map task's values of one code: `add` them (a weight is a count
    * of equal values), then [[runs]] gives the distinct values in Spark's
    * double order with their total weights.
    */
  private[transform] final class Tally {
    var nulls = 0L
    private val vals = new mutable.ArrayBuilder.ofDouble
    private var wts: mutable.ArrayBuilder.ofLong = null // null while every weight is 1

    def isEmpty: Boolean = vals.length == 0 && nulls == 0

    def add(v: Double, w: Long): Unit = {
      if (w != 1L && wts == null) {
        wts = new mutable.ArrayBuilder.ofLong
        (0 until vals.length).foreach(_ => wts += 1L)
      }
      vals += v + 0.0 // -0.0 + 0.0 = 0.0
      if (wts != null) wts += w
    }

    def runs: (Array[Double], Array[Long]) = {
      val v = vals.result()
      val (w, order) =
        if (wts == null) { java.util.Arrays.sort(v); (Array.fill(v.length)(1L), v.indices) }
        else (wts.result(), v.indices.sortWith((a, b) => java.lang.Double.compare(v(a), v(b)) < 0))
      val outV = new mutable.ArrayBuilder.ofDouble
      val outW = new mutable.ArrayBuilder.ofLong
      var i = 0
      while (i < v.length) {
        val x = v(order(i))
        var c = 0L
        while (i < v.length && java.lang.Double.compare(v(order(i)), x) == 0) {
          c += w(order(i))
          i += 1
        }
        outV += x
        outW += c
      }
      (outV.result(), outW.result())
    }
  }

  /** Spark's `round(v · 10^d)` cast to long: HALF_UP on the double's
    * decimal form. An ArithmeticException where the value has no exact
    * long (NaN, ±Inf or beyond the long range).
    */
  private def scaled(v: Double, d: Int): Long = {
    val x = v * math.pow(10, d)
    if (x.isNaN || x.isInfinite) throw new ArithmeticException(s"$x")
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
  }

  /** Whether `body` ran without an ArithmeticException. */
  private def exactly(body: => Unit): Boolean =
    try { body; true } catch { case _: ArithmeticException => false }

  /** One map task's part of one code: `head` = Array(n, nulls, ssum, raw
    * bits of sv, 1 if ssum is inexact), then its distinct values in
    * Spark's double order with their counts and (when scaled) their
    * scaled values. A few primitive arrays per (code, map task), not an
    * object pair per value, are what the shuffle serializes.
    */
  private final class Run(
      val part: Int, val head: Array[Long], val vals: Array[Double],
      val cnts: Array[Long], val scaled: Array[Long]) extends Serializable

  private def runOf(part: Int, t: Tally, d: Int): Run = {
    val (v, w) = t.runs
    val sc = new Array[Long](if (d == NoScale) 0 else v.length)
    var n, ssum = 0L
    var sv = 0.0
    var exact = true
    var i = 0
    while (i < v.length) {
      n += w(i)
      sv += w(i) * v(i)
      if (d != NoScale) exact &&= exactly {
        sc(i) = scaled(v(i), d)
        ssum = Math.addExact(ssum, Math.multiplyExact(w(i), sc(i)))
      }
      i += 1
    }
    new Run(part, Array(n, t.nulls, ssum, java.lang.Double.doubleToRawLongBits(sv),
      if (exact) 0L else 1L), v, w, sc)
  }

  /** The one read job over the rows of `df`, run as an SQL execution of
    * its plan: `observe` adds each row to the map task's [[Tally]] of
    * every code it touches (`nCodes` codes); `decimals(g)` is code g's
    * scale or [[NoScale]], `probs(g)` its distinct probabilities. Returns
    * one [[Summary]] per code.
    */
  private[transform] def summarize(
      df: DataFrame, nCodes: Int, decimals: Array[Int], probs: Array[Array[Double]])(
      observe: (InternalRow, Array[Tally]) => Unit): IndexedSeq[Summary] = {
    if (nCodes == 0) return IndexedSeq.empty
    val parts = math.min(nCodes, graft.SparkEntry.shufflePartitions(df.sparkSession))
    val qe = df.queryExecution
    val got = SQLExecution.withNewExecutionId(qe, Some("column grid read")) {
      val runs = qe.toRdd.mapPartitionsWithIndex { (part, it) =>
        val tallies = Array.fill(nCodes)(new Tally)
        it.foreach(observe(_, tallies))
        tallies.indices.iterator.filterNot(tallies(_).isEmpty)
          .map(g => g -> runOf(part, tallies(g), decimals(g)))
      }
      new ShuffledRDD[Int, Run, Run](runs, new HashPartitioner(math.max(1, parts)))
        .mapPartitions(_.toSeq.groupBy(_._1).iterator.map { case (g, rs) =>
          g -> reduceCode(rs.map(_._2).sortBy(_.part).toArray,
            decimals(g) != NoScale, probs(g))
        })
        .collect().toMap
    }
    (0 until nCodes).map(g => got.getOrElse(g, Summary(
      Moments(0L, 0L, 0L, 0L, Double.NaN, Double.NaN, Double.NaN), Map.empty)))
  }

  /** One code in its reduce task: the headers summed in map-task order
    * (a fixed order for the raw sum), then the runs merged into one
    * stream of distinct values in order, equal values summed.
    */
  private def reduceCode(
      runs: Array[Run], isScaled: Boolean, probs: Array[Double]): Summary = {
    var n, nulls, ssum = 0L
    var sv = 0.0
    var exact = true
    runs.foreach { r =>
      n += r.head(0)
      nulls += r.head(1)
      exact &&= r.head(4) == 0L && exactly { ssum = Math.addExact(ssum, r.head(2)) }
      sv += java.lang.Double.longBitsToDouble(r.head(3))
    }
    val fold = new Fold(n, ssum, sv, isScaled, probs)
    val at = new Array[Int](runs.length)
    def value(r: Int) = runs(r).vals(at(r))
    val heap = new java.util.PriorityQueue[Integer](math.max(1, runs.length),
      (a: Integer, b: Integer) => java.lang.Double.compare(value(a), value(b)))
    runs.indices.filter(runs(_).vals.nonEmpty).foreach(heap.add(_))
    while (!heap.isEmpty) {
      val v = value(heap.peek)
      val sc = if (isScaled) runs(heap.peek).scaled(at(heap.peek)) else 0L
      var cnt = 0L
      while (!heap.isEmpty && java.lang.Double.compare(value(heap.peek), v) == 0) {
        val r: Int = heap.poll()
        cnt += runs(r).cnts(at(r))
        at(r) += 1
        if (at(r) < runs(r).vals.length) heap.add(r)
      }
      fold.add(v, sc, cnt)
    }
    Summary(fold.moments(nulls), fold.quantiles, exact)
  }

  /** The streaming fold of one code's distinct values (ascending, each
    * with its scaled value and count), given its totals from the
    * headers. Each term is weighted by its exact count: cnt·d²,
    * (cnt·d²)·d and (cnt·d²)·d² about the scaled mean ssum·1.0/n, and
    * (cnt·r)·r about the raw mean sv/n.
    */
  private final class Fold(
      n: Long, ssum: Long, sv: Double, isScaled: Boolean, probs: Array[Double]) {
    private val meanS = ssum * 1.0 / n
    private val meanR = sv / n
    private val pos = probs.map(_ * (n - 1).toDouble)
    private val lo = pos.map(k => math.floor(k).toLong)
    private val hi = pos.map(k => math.ceil(k).toLong)
    private val vlo, vhi = new Array[Double](probs.length)
    private var nd, before = 0L
    private var mn, mx = Double.NaN
    private var s2, s3, s4, m2 = 0.0

    def add(v: Double, scaledV: Long, cnt: Long): Unit = {
      if (nd == 0) mn = v
      mx = v
      nd += 1
      if (isScaled) {
        val dltS = scaledV.toDouble - meanS
        val d2 = dltS * dltS
        s2 += cnt * d2
        s3 += cnt * d2 * dltS
        s4 += cnt * d2 * d2
      }
      val dltR = v - meanR
      m2 += cnt * dltR * dltR
      val last = before + cnt - 1
      var j = 0
      while (j < probs.length) {
        if (lo(j) >= before && lo(j) <= last) vlo(j) = v
        if (hi(j) >= before && hi(j) <= last) vhi(j) = v
        j += 1
      }
      before += cnt
    }

    def moments(nulls: Long): Moments =
      if (nd == 0) Moments(0L, nulls, 0L, 0L, Double.NaN, Double.NaN, Double.NaN)
      else if (!isScaled) Moments(n, nulls, nd, 0L, mn, mx, sv, m2 = m2)
      else Moments(n, nulls, nd, ssum, mn, mx, sv, s2, s3, s4, m2)

    /** `Percentile.getPercentile`: the integral-position and equal-key
      * short-circuits, then (hi − k)·v_lo + (k − lo)·v_hi.
      */
    def quantiles: Map[Double, Double] =
      if (nd == 0) Map.empty
      else probs.indices.map { j =>
        val same = vlo(j) == vhi(j) || vlo(j).isNaN && vhi(j).isNaN
        probs(j) -> (if (lo(j) == hi(j) || same) vlo(j)
          else (hi(j) - pos(j)) * vlo(j) + (pos(j) - lo(j)) * vhi(j))
      }.toMap
  }
}
