package graft.queries

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class CvTwinSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  test("cv grid: one row per (depth, fold), folds partition the table, argmax selected") {
    val rows = CvTwinQueries.cvGrid.run(spark, dir).collect()
    def long(r: org.apache.spark.sql.Row, c: String) = r.getAs[Long](c)

    assert(rows.map(r => (long(r, "max_depth"), long(r, "fold"))).toSet ==
      (for (d <- Seq(1L, 2L); f <- 0L until 3L) yield (d, f)).toSet)
    assert(rows.length == 6)

    val nRows = spark.read.parquet(s"$dir/lineitem.parquet").count()
    val byDepth = rows.groupBy(long(_, "max_depth"))
    byDepth.foreach { case (d, rs) =>
      assert(rs.map(long(_, "n_val")).sum == nRows,
        s"depth $d: the validation folds must partition the table")
      assert(rs.forall(long(_, "sum_f1_micro") == rs.map(long(_, "macro_f1_micro")).sum))
    }

    // argmax of the per-depth sum, ties to the lower depth
    val sums = byDepth.map { case (d, rs) => d -> long(rs.head, "sum_f1_micro") }
    val best = sums.filter(_._2 == sums.values.max).keys.min
    rows.foreach { r =>
      assert(long(r, "best_depth") == best)
      assert(long(r, "selected") == (if (long(r, "max_depth") == best) 1L else 0L))
    }
    // the planted two-level interaction is one depth 1 cannot express
    assert(best == 2L)

    // determinism: a second run (fresh fits) returns the same rows
    val again = CvTwinQueries.cvGrid.run(spark, dir).collect()
    assert(rows.map(_.toSeq.toList).toList == again.map(_.toSeq.toList).toList)
  }
}
