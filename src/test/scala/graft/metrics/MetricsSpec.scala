package graft.metrics

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("macro-F1 counts a never-predicted class as F1=0 (sklearn zero_division=0)") {
    // labels {0,0,0,1}, preds all 0: class 0 P=3/4 R=1 F1=6/7; class 1 F1=0
    val df = Seq((0, 0), (0, 0), (0, 0), (1, 0)).toDF("label", "pred")
    val r = Metrics.macroAvg(df, "label", "pred").head()
    val f1c0 = 2 * 0.75 * 1.0 / 1.75
    assert(math.abs(r.getAs[Double]("macro_f1") - f1c0 / 2) < 1e-6)
  }

  test("perfect predictions give macro P=R=F1=1 and accuracy 1") {
    val df = Seq((0, 0), (1, 1), (2, 2)).toDF("label", "pred")
    val r = Metrics.macroAvg(df, "label", "pred").head()
    assert(r.getAs[Double]("macro_f1") == 1.0)
    assert(Metrics.accuracy(df, "label", "pred").head().getDouble(0) == 1.0)
  }

  test("macro average and accuracy of one scored frame scan it once") {
    val scored = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq((0L, 0L), (0L, 1L), (1L, 1L), (2L, 1L), (1L, 1L)), 2)).toDF("label", "pred")
    val out = Metrics.macroAvg(scored, "label", "pred")
      .crossJoin(Metrics.accuracy(scored, "label", "pred"))
    assert(out.collect().head.getAs[Double]("accuracy") == 0.6)
    val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(out.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.ExternalRDDScanExec[_] => s
      }
    assert(scans.size == 1)
  }

  test("ROC-AUC: perfect separation = 1.0, random-ish = 0.5, ties handled") {
    val perfect = Seq((0.1, 0), (0.2, 0), (0.8, 1), (0.9, 1)).toDF("score", "label")
    assert(Metrics.rocAuc(perfect, "score", "label").head().getDouble(0) == 1.0)
    val coin = Seq((0.5, 0), (0.5, 1), (0.5, 0), (0.5, 1)).toDF("score", "label")
    assert(Metrics.rocAuc(coin, "score", "label").head().getDouble(0) == 0.5)
  }

  test("sklearn cross-check: known mixed case") {
    // sklearn.roc_auc_score([0,0,1,1], [.1,.4,.35,.8]) = 0.75
    val df = Seq((0.1, 0), (0.4, 0), (0.35, 1), (0.8, 1)).toDF("score", "label")
    val got = Metrics.rocAuc(df, "score", "label").head().getDouble(0)
    assert(got == 0.75)
  }

  test("confusion matrix counts") {
    val df = Seq((0, 0), (0, 1), (1, 1), (1, 1)).toDF("label", "pred")
    val m = Metrics.confusion(df, "label", "pred")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(m == Map((0, 0) -> 1L, (0, 1) -> 1L, (1, 1) -> 2L))
  }

  test("PR curve: sklearn average_precision cross-check and perfect case") {
    // sklearn.average_precision_score([0,0,1,1], [.1,.4,.35,.8]) = 0.8333333
    val df = Seq((0.1, 0), (0.4, 0), (0.35, 1), (0.8, 1)).toDF("score", "label")
    val rows = Metrics.prCurve(df, "score", "label").collect()
    assert(rows.head.getAs[Long]("ap_micro") == 833333L)
    // top threshold (.8): one positive, precision 1, recall .5
    assert(rows.head.getAs[Double]("precision") == 1.0)
    assert(rows.head.getAs[Double]("recall") == 0.5)
    val perfect = Seq((0.1, 0), (0.2, 0), (0.8, 1), (0.9, 1))
      .toDF("score", "label")
    assert(Metrics.prCurve(perfect, "score", "label")
      .head().getAs[Long]("ap_micro") == 1000000L)
  }

  test("lift deciles: equal-population cut, capture and lift arithmetic") {
    // 20 rows ranked by score desc = id asc; ids 1-4 positive ->
    // decile 0 and 1 all-positive (lift 5 = 1.0/0.2), capture .5 then 1.
    val df = (1 to 20).map(i => (21 - i, if (i <= 4) 1 else 0, i))
      .toDF("s", "y", "id")
    val rows = Metrics.liftDeciles(df, $"s", $"y", $"id").collect()
    assert(rows.length == 10 && rows.forall(_.getAs[Long]("n") == 2L))
    assert(rows(0).getAs[Double]("lift") == 5.0)
    assert(rows(0).getAs[Double]("cum_capture") == 0.5)
    assert(rows(1).getAs[Double]("cum_capture") == 1.0)
    assert(rows(2).getAs[Long]("n_pos") == 0L)
    assert(rows(9).getAs[Double]("cum_capture") == 1.0)
  }
}
