package graft.stats

import graft.SparkTestSession
import graft.transform.QuantileBinner
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** All-null and mostly-null columns through the grid-backed profilers:
  * an operator that needs a value fails with an IllegalArgumentException
  * naming the column; `profileNumeric` reports n_rows 0 and null stats;
  * a mostly-null column profiles exactly like its non-null rows.
  */
class NullColumnsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val cols = Seq("ok" -> 0, "empty" -> 0)
  private def frame: DataFrame =
    (1 to 20).map(i => (i.toDouble, Option.empty[Double])).toDF("ok", "empty")

  test("an all-null column is an IllegalArgumentException naming it") {
    val ops: Seq[(String, () => Any)] = Seq(
      "riskFlags" -> (() => Profiling.riskFlags(frame, cols)),
      "designBinning" -> (() => Profiling.designBinning(frame, cols)),
      "designReport" -> (() => Profiling.designReport(frame, cols)),
      "skewKurtosis" -> (() => Stats.skewKurtosis(frame, cols)),
      "QuantileBinner.fit" -> (() => QuantileBinner.fit(frame, "empty", 4)))
    ops.foreach { case (name, op) =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("empty"), s"$name: ${e.getMessage}")
    }
  }

  test("profileNumeric reports an all-null column as n_rows 0, null stats") {
    val r = Stats.profileNumeric(frame, cols)
      .filter($"column" === "empty").head()
    assert(r.getAs[Long]("n_rows") == 0 && r.getAs[Long]("n_nulls") == 20)
    assert(r.getAs[Long]("n_distinct") == 0)
    Seq("mean", "std", "min", "p25", "p50", "p75", "max").foreach { c =>
      assert(r.isNullAt(r.fieldIndex(c)), c)
    }
  }

  test("a mostly-null column profiles like its non-null rows") {
    val values = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0)
    val mostlyNull =
      (values.map(Option(_)) ++ Seq.fill(40)(None)).toDF("x")
    val dense = values.toDF("x")
    def same(f: DataFrame => DataFrame): Unit =
      assert(f(mostlyNull).drop("n_nulls").collect().toSeq ==
        f(dense).drop("n_nulls").collect().toSeq)
    same(Stats.profileNumeric(_, Seq("x" -> 0)))
    same(Stats.skewKurtosis(_, Seq("x" -> 0)))
    same(Profiling.riskFlags(_, Seq("x" -> 0)))
    same(Profiling.designReport(_, Seq("x" -> 0)))
    assert(Stats.profileNumeric(mostlyNull, Seq("x" -> 0)).head()
      .getAs[Long]("n_nulls") == 40)
  }
}
