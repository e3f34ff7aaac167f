package graft.tree

import graft.SparkTestSession
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** The streaming split search against its Catalyst-evaluated window form
  * ([[SplitStatsReference]]) on random frames: duplicates, gain ties
  * (mirrored frames), nulls, NaN, -0.0 and ±Inf, two node layouts, 2-3 classes,
  * minSamplesLeaf 1-3, entropy and gini.
  */
class SplitSearchSpec extends AnyFunSuite with SparkTestSession {
  import SplitSearchSpec.Case

  private val value: Gen[Any] = Gen.frequency(
    1 -> Gen.const(null),
    2 -> Gen.oneOf(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity),
    6 -> Gen.choose(-3, 3).map(_ * 0.5))

  private val genCase: Gen[Case] = for {
    nFeat <- Gen.choose(1, 3)
    nClass <- Gen.choose(2, 3)
    labels = Seq(0L, 1L, 7L).take(nClass)
    nodes <- Gen.oneOf(Seq(0), Seq(1, 2))
    n <- Gen.choose(1, 20)
    half <- Gen.listOfN(n, for {
      node <- Gen.oneOf(nodes)
      label <- Gen.oneOf(labels)
      vs <- Gen.listOfN(nFeat, value)
    } yield (node, label, vs))
    // a frame plus its mirror image (every value negated) has the same
    // label counts at mirrored thresholds: exact gain ties
    mirror <- Gen.oneOf(false, true)
    rows = (if (mirror) half ++ half.map { case (node, l, vs) =>
      (node, l, vs.map { case d: Double => -d; case other => other })
    } else half).map { case (node, l, vs) => Row.fromSeq(node +: l +: vs) }
    // one copy of the rows per input partition: every (node, value) key
    // reaches the shuffle from each map task
    copies <- Gen.oneOf(1, 2, 3)
    msl <- Gen.choose(1, 3)
    criterion <- Gen.oneOf("entropy", "gini")
  } yield Case((0 until nFeat).map(i => s"f$i"), labels,
    Seq.fill(copies)(rows).flatten, copies.max(2), msl, criterion)

  private def frame(c: Case): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(c.rows, c.partitions),
      StructType(
        StructField("__node", IntegerType, nullable = false) +:
          StructField("label", LongType, nullable = false) +:
          c.feats.map(StructField(_, DoubleType))))

  private def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)

  private def check(prop: Prop): Unit = {
    val res = Test.check(
      Test.Parameters.default.withInitialSeed(Seed(20261017L))
        .withMinSuccessfulTests(30).withWorkers(1),
      prop)
    assert(res.passed, Pretty.pretty(res))
  }

  /** Best split per (node, feature) from the kernel and from the window
    * form: (threshold bits, gain bits, ln, tn, left counts).
    */
  private def bothBestSplits(c: Case): (Map[(Int, String), Any], Map[(Int, String), Any]) = {
    val df = frame(c)
    val nodes = c.rows.map(_.getInt(0)).distinct
    val counts = nodes.map { id =>
      id -> c.labels.map(l =>
        c.rows.count(r => r.getInt(0) == id && r.getLong(1) == l).toLong)
    }.toMap
    val kernel = DecisionTree.bestSplits(
      df, nodes.map(_ -> c.feats).toMap, counts, c.labels, c.criterion,
      c.minSamplesLeaf).map { case ((node, f), b) =>
      (node, f) -> (bits(b.threshold), bits(b.gain), b.ln, b.tn, b.left)
    }
    val reference = SplitStatsReference.bestSplits(
      SplitStatsReference.splitStats(
        df, c.feats, c.labels, c.criterion, c.minSamplesLeaf))
      .collect().map { r =>
        (r.getAs[Int]("__node"), r.getAs[String]("feat")) ->
          (bits(r.getAs[Double]("threshold")), bits(r.getAs[Double]("gain")),
            r.getAs[Long]("ln"), r.getAs[Long]("tn"),
            c.labels.indices.map(i => r.getAs[Long](s"l_c$i")))
      }.toMap
    (kernel, reference)
  }

  test("best split per (node, feature) equals the window form's top row") {
    check(Prop.forAllNoShrink(genCase) { c =>
      val (kernel, reference) = bothBestSplits(c)
      Prop(kernel == reference) :| s"$c\nkernel    $kernel\nreference $reference"
    })
  }

  /** Root gain table of feature `f` from the kernel and from the window
    * form, rows (threshold bits, ln, tn, gain bits) in threshold order.
    */
  private def bothRootGains(c: Case, f: String): (Seq[Any], Seq[Any]) = {
    val df = frame(c)
    val rows = (d: DataFrame) => d.select("threshold", "ln", "tn", "gain")
      .collect().map(r =>
        (bits(r.getDouble(0)), r.getLong(1), r.getLong(2), bits(r.getDouble(3))))
      .sortBy(r => java.lang.Double.longBitsToDouble(r._1)).toSeq
    val kernel = rows(DecisionTree.rootGains(
      df, f, "label", c.labels, c.criterion, c.minSamplesLeaf))
    val reference = rows(SplitStatsReference.splitStats(
      df.withColumn("__node", lit(0)), Seq(f), c.labels, c.criterion,
      c.minSamplesLeaf))
    (kernel, reference)
  }

  test("keys from both input partitions, special values included, sum exactly") {
    // every (node, value) key, null, NaN, -0.0, 0.0 and ±Inf included,
    // reaches the shuffle from both map tasks
    val values = Seq[Any](null, Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.5, -1.5)
    val half = for {
      (v, i) <- values.zipWithIndex
      node <- Seq(1, 2)
      label <- Seq(0L, 1L).take(1 + (i + node) % 2)
    } yield Row(node, label, v, values((i + 3) % values.size))
    for (criterion <- Seq("entropy", "gini")) {
      val c = Case(Seq("f0", "f1"), Seq(0L, 1L), half ++ half, 2, 1, criterion)
      val (kernel, reference) = bothBestSplits(c)
      assert(kernel.nonEmpty)
      assert(kernel == reference)
      for (f <- c.feats) {
        val (kernelGains, referenceGains) = bothRootGains(c, f)
        assert(kernelGains.nonEmpty)
        assert(kernelGains == referenceGains)
      }
    }
  }

  test("rootGains equals the window form's gain table row for row") {
    check(Prop.forAllNoShrink(genCase) { c =>
      Prop.all(c.feats.map { f =>
        val (kernel, reference) = bothRootGains(c, f)
        Prop(kernel == reference) :| s"$c / $f\nkernel    $kernel\nreference $reference"
      }: _*)
    })
  }
}

object SplitSearchSpec {
  final case class Case(
      feats: Seq[String], labels: Seq[Long], rows: Seq[Row], partitions: Int,
      minSamplesLeaf: Int, criterion: String)
}
