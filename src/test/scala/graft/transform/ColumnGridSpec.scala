package graft.transform

import graft.SparkTestSession
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** The grid reads against a driver-side count of the same rows: 1-3
  * columns with nulls, NaN and ±Inf, duplicate-heavy, constant and 1-row
  * columns, negative values and ±0.0, decimal scales 0-2 (ties at .5
  * included), spread over 2-4 input partitions so equal values meet from
  * several map tasks. Quantiles are checked against
  * `Percentile.getPercentile`'s interpolation over the sorted non-null
  * values, and the edges picked from a read of every candidate
  * probability against a direct fit.
  */
class ColumnGridSpec extends AnyFunSuite with SparkTestSession {
  import ColumnGridSpec._

  private val anyValue: Gen[Option[Double]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.oneOf(-0.0, 0.0).map(Some(_)),
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity).map(Some(_)),
    8 -> Gen.choose(-500, 500).map(i => Some(i / 100.0)))

  /** One column's values: general, duplicate-heavy, single-valued or
    * mostly null.
    */
  private def column(n: Int): Gen[Seq[Option[Double]]] = Gen.oneOf(
    Gen.listOfN(n, anyValue),
    Gen.listOfN(3, anyValue).flatMap(pool => Gen.listOfN(n, Gen.oneOf(pool))),
    anyValue.map(v => Seq.fill(n)(v)),
    Gen.listOfN(n, Gen.frequency(4 -> Gen.const(None), 1 -> anyValue)))

  private val genCase: Gen[Case] = for {
    nCols <- Gen.choose(1, 3)
    n <- Gen.frequency(1 -> Gen.const(1), 4 -> Gen.choose(2, 25))
    values <- Gen.listOfN(nCols, column(n))
    decimals <- Gen.listOfN(nCols, Gen.choose(0, 2))
    bins <- Gen.listOfN(nCols, Gen.choose(1, 10))
    parts <- Gen.choose(2, 4)
  } yield Case(values, decimals, bins, parts)

  private def check(prop: Prop): Unit = {
    val res = Test.check(
      Test.Parameters.default.withInitialSeed(Seed(20261018L))
        .withMinSuccessfulTests(30).withWorkers(1),
      prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("grid moments and quantiles equal a driver-side count of the rows") {
    check(Prop.forAllNoShrink(genCase) { c =>
      val names = c.values.indices.map(i => s"c$i")
      val df = frame(c.values, c.parts)
      // a scaled sum needs finite values; the others are read unscaled
      val finite = names.indices.filter(i => c.values(i).flatten.forall(isFinite))
      val candidates = (1 to 10).flatMap(QuantileBinner.edgeProbs).distinct
      val got = ColumnGrid(df, names).read(
        finite.map(i => names(i) -> c.decimals(i)).toMap,
        names.map(_ -> candidates).toMap)
      Prop.all(names.indices.map { i =>
        val name = names(i)
        val vs = c.values(i).flatten.map(_ + 0.0) // -0.0 + 0.0 = 0.0
        val sorted = vs.sorted(Ordering.Double.TotalOrdering).toArray
        val probs = QuantileBinner.edgeProbs(c.bins(i))
        val want = Counted(vs.size.toLong,
          c.values(i).count(_.isEmpty).toLong,
          vs.map(bits).distinct.size.toLong,
          if (finite.contains(i)) vs.map(v => scaled(v, c.decimals(i))).sum else 0L,
          sorted.headOption.map(bits), sorted.lastOption.map(bits),
          if (vs.isEmpty) None
          else Some(probs.map(p => bits(percentile(sorted, p)))))
        val m = got(name).moments
        val q = got(name).quantiles
        val counted = Counted(m.n, m.nulls, m.nd, m.ssum,
          if (m.n > 0) Some(bits(m.min)) else None,
          if (m.n > 0) Some(bits(m.max)) else None,
          if (q.isEmpty) None else Some(probs.map(p => bits(q(p)))))
        // the edges picked from the candidate read are a direct fit's
        val picked = vs.isEmpty ||
          QuantileBinner.fromQuantiles(name, c.bins(i), q).edges.map(bits).toSeq ==
            QuantileBinner.fitMany(df, Seq(name -> c.bins(i)))(name).edges.map(bits).toSeq
        Prop(counted == want && picked) :|
          s"$c / $name\ngrid   $counted\ncount  $want\npicked $picked"
      }: _*)
    })
  }

  test("a scaled read of a non-finite column names it") {
    val df = frame(Seq(Seq(Some(1.0), Some(2.0)),
      Seq(Some(1.0), Some(Double.PositiveInfinity))), 2)
    val e = intercept[ArithmeticException](
      ColumnGrid(df, Seq("c0", "c1")).read(Map("c0" -> 2, "c1" -> 2)))
    assert(e.getMessage.contains("c1"))
    assert(ColumnGrid(df, Seq("c1")).read(probs = Map("c1" -> Seq(1.0)))("c1")
      .quantiles == Map(1.0 -> Double.PositiveInfinity))
  }

  test("one Spark job per read and per fit") {
    val df = frame((0 until 4).map(i =>
      (1 to 200).map(r => Some(((r * (i + 3)) % 97) / 4.0))), 3)
    val cols = (0 until 4).map(i => s"c$i")
    val (readJobs, got) = jobsOf(ColumnGrid(df, cols).read(
      cols.map(_ -> 2).toMap, cols.map(_ -> Seq(0.25, 0.5, 0.75)).toMap))
    assert(got.values.forall(_.quantiles.size == 3))
    assert(readJobs == 1)
    assert(jobsOf(QuantileBinner.fitMany(df, cols.map(_ -> 5)))._1 == 1)
  }
}

object ColumnGridSpec {
  final case class Case(
      values: Seq[Seq[Option[Double]]], decimals: Seq[Int], bins: Seq[Int],
      parts: Int)

  /** Doubles are compared by their normalised bits, so NaN equals NaN. */
  final case class Counted(
      n: Long, nulls: Long, nd: Long, ssum: Long,
      min: Option[Long], max: Option[Long],
      quantiles: Option[Seq[Long]])

  def bits(v: Double): Long = java.lang.Double.doubleToLongBits(v + 0.0)

  def isFinite(v: Double): Boolean = !v.isNaN && !v.isInfinite

  /** Columns c0, c1, ... of `values` over `parts` input partitions. */
  def frame(values: Seq[Seq[Option[Double]]], parts: Int): DataFrame = {
    val spark = SparkTestSession.session
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        values.transpose.map(r => Row.fromSeq(r.map(_.orNull))), parts),
      StructType(values.indices.map(i => StructField(s"c$i", DoubleType))))
  }

  /** Spark's `round(v * 10^d)` on a double: HALF_UP on its decimal form. */
  def scaled(v: Double, d: Int): Long =
    BigDecimal(v * math.pow(10, d))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** `Percentile.getPercentile` over a sorted array: position
    * p·(n−1), the integral-position and equal-key short-circuits, then
    * (hi − pos)·v_lo + (pos − lo)·v_hi.
    */
  def percentile(sorted: Array[Double], p: Double): Double = {
    val pos = p * (sorted.length - 1)
    val (lo, hi) = (pos.floor.toLong, pos.ceil.toLong)
    val (vlo, vhi) = (sorted(lo.toInt), sorted(hi.toInt))
    if (hi == lo || vlo == vhi) vlo
    else (hi - pos) * vlo + (pos - lo) * vhi
  }
}
