package graft.stats

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class ProfilingSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("risk flags fire on a high-cardinality skewed column") {
    // 1..99 unique (ratio 1.0 > 0.8) plus one huge outlier -> skew, range
    val df = ((1 to 99).map(_.toDouble) :+ 10000.0).toDF("x")
    val r = Profiling.riskFlags(df, Seq("x" -> 0)).head()
    assert(r.getAs[Int]("high_cardinality") == 1)
    assert(r.getAs[Int]("high_skew") == 1)
    assert(r.getAs[Int]("wide_range") == 1)
    assert(r.getAs[Int]("risk_count") >= 3)
  }

  test("well-behaved low-cardinality column raises no flags") {
    val df = (1 to 1000).map(i => (i % 5).toDouble).toDF("x")
    val r = Profiling.riskFlags(df, Seq("x" -> 0)).head()
    assert(r.getAs[Int]("risk_count") == 0)
  }

  test("binning design picks quantile for skewed/high-card, width otherwise") {
    val skewed = ((1 to 99).map(_.toDouble) :+ 10000.0).toDF("x")
    val dSkew = Profiling.designBinning(skewed, Seq("x" -> 0)).head
    assert(dSkew.strategy == "quantile")
    assert(dSkew.nBins == math.max(3, math.min(10, math.sqrt(100).toInt)))

    val uniformLowCard = (1 to 1000).map(i => (i % 9).toDouble).toDF("x")
    val dUni = Profiling.designBinning(uniformLowCard, Seq("x" -> 0)).head
    assert(dUni.strategy == "equal_width")
    assert(dUni.nBins == 3)
    // the fitted model partitions the data
    val codes = dUni.model.transform(uniformLowCard, "b")
      .select("b").distinct().collect().map(_.getInt(0)).sorted
    assert(codes.forall(_ >= 0))
  }

  test("designBinning batches: <=4 Spark actions regardless of column count") {
    val df = (1 to 500).map(i =>
      (i.toDouble, (i % 7).toDouble, math.pow(1.02, i % 90), i * 0.5))
      .toDF("a", "b", "c", "d")
    val cols = Seq("a" -> 2, "b" -> 2, "c" -> 6, "d" -> 2)
    // one grid read gives the stats and every candidate quantile edge —
    // one Spark job for any column count; a per-column fit would scale
    // the jobs with it
    val (jobs, designs) = jobsOf(Profiling.designBinning(df, cols))
    assert(designs.size == 4)
    assert(jobs == 1, s"designBinning ran $jobs jobs; batching regressed")
    assert(jobsOf(Profiling.designReport(df, cols))._1 == 1)
  }
}
