package graft.sketch

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CountMinSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val d = 4
  private val w = 64

  // Zipf-ish token stream: token t_i appears ceil(300/i) times
  private lazy val toks = (1 to 40)
    .flatMap(i => Seq.fill(300 / i)(f"t$i%02d"))
    .toDF("tok")

  test("sketch size is bounded by d*w regardless of input size") {
    val cells = CountMin.cells(toks, "tok", d, w)
    assert(cells.count() <= d.toLong * w)
    // cell counts conserve mass per row: each row sees every item once
    val perRow = cells.groupBy("r").agg(sum("cnt").as("s"))
      .collect().map(_.getLong(1)).toSet
    assert(perRow == Set(toks.count()))
  }

  test("estimates never undercount (CMS one-sided error)") {
    val exact = toks.groupBy("tok").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sk = CountMin.cells(toks, "tok", d, w)
    val est = CountMin.estimates(toks, "tok", sk, d, w)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (t, n) =>
      assert(est(t) >= n, s"CMS undercounted $t: ${est(t)} < $n")
    }
  }

  test("heavy hitters surface the true top token first") {
    val top = CountMin.heavyHitters(toks, "tok", d, w, k = 3).collect()
    assert(top.head.getString(0) == "t01") // 300 occurrences, no rival
    assert(top.head.getLong(1) >= 300L)
  }

  test("linear counting estimates distinct within 10% when V << m") {
    // 40 distinct tokens into m=4096 buckets: collisions are rare, the
    // estimator should land within a few percent of the truth
    val r = LinearCount.estimateByGroup(
      toks.withColumn("g", lit("all")), "g", "tok", m = 4096).head()
    val occupied = r.getAs[Long]("occupied")
    val est = r.getAs[Double]("est_distinct")
    assert(occupied <= 40L)
    assert(math.abs(est - 40.0) / 40.0 < 0.10, s"est $est vs exact 40")
  }

  test("linear counting saturates to NULL when every bucket is occupied") {
    val items = (0 until 64).map(i => ("g", s"x$i")).toDF("g", "tok")
    val r = LinearCount.estimateByGroup(items, "g", "tok", m = 1).head()
    assert(r.getAs[Long]("occupied") == 1L)
    assert(r.isNullAt(r.fieldIndex("est_distinct")))
  }

  test("streaming cell grid equals the batch sketch cell-for-cell") {
    // Sink interchangeability: `streamingCells`' memory sink is gate
    // plumbing only — the cell grid is a plain streaming aggregation, so
    // any sink sees the same d*w rows. Pin that by draining the stream
    // over the real sf0.001 docs and comparing against the batch build
    // on the identical tokenization.
    val sfDir = "/root/testdata/sf0.001"
    val streamed = CountMin
      .streamingCells(spark, sfDir, d, w)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val batch = CountMin.cells(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(explode(split(col("text"), " ")).as("tok")),
        "tok", d, w)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(streamed == batch)
    assert(streamed.size <= d * w)
  }
}
