package graft.transform

import graft.SparkTestSession
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** The grid readers against a driver-side count of the same rows: 1-3
  * columns with nulls, duplicate-heavy, single-valued and 1-row columns,
  * negative values and ±0.0, decimal scales 0-2 (ties at .5 included).
  * Quantiles are checked against `Percentile.getPercentile`'s
  * interpolation over the sorted non-null values.
  */
class ColumnGridSpec extends AnyFunSuite with SparkTestSession {
  import ColumnGridSpec._

  private val anyValue: Gen[Option[Double]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.oneOf(-0.0, 0.0).map(Some(_)),
    6 -> Gen.choose(-500, 500).map(i => Some(i / 100.0)))

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
  } yield Case(values, decimals, bins)

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
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(
          c.values.transpose.map(r => Row.fromSeq(r.map(_.orNull))), 2),
        StructType(names.map(StructField(_, DoubleType))))
      val grid = ColumnGrid(df, names)
      val moments = grid.moments(names.zip(c.decimals).toMap)
      val probs = names.zip(c.bins).map { case (name, k) =>
        name -> (0 to k).map(i => i.toDouble / k) }.toMap
      val quantiles = grid.quantiles(probs)
      Prop.all(names.indices.map { i =>
        val name = names(i)
        val vs = c.values(i).flatten
        val want = Counted(vs.size.toLong,
          c.values(i).count(_.isEmpty).toLong,
          vs.map(v => v + 0.0).distinct.size.toLong, // -0.0 + 0.0 = 0.0
          vs.map(v => scaled(v, c.decimals(i))).sum,
          vs.reduceOption(_ min _), vs.reduceOption(_ max _),
          if (vs.isEmpty) None
          else Some(probs(name).map(percentile(vs.sorted.toArray, _))))
        val m = moments(name)
        val got = Counted(m.n, m.nulls, m.nd, m.ssum,
          if (m.n > 0) Some(m.min) else None,
          if (m.n > 0) Some(m.max) else None,
          quantiles.get(name))
        Prop(got == want) :| s"$c / $name\ngrid   $got\ncount  $want"
      }: _*)
    })
  }
}

object ColumnGridSpec {
  final case class Case(
      values: Seq[Seq[Option[Double]]], decimals: Seq[Int], bins: Seq[Int])

  final case class Counted(
      n: Long, nulls: Long, nd: Long, ssum: Long,
      min: Option[Double], max: Option[Double],
      quantiles: Option[Seq[Double]])

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
