package graft.model

import graft.metrics.Metrics
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.{GBTClassifier, LogisticRegression, RandomForestClassifier}
import org.apache.spark.ml.evaluation.Evaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.{Param, ParamMap}
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** MLlib-backed ensemble models (SURVEY §2.8 M7, M10-M12): RF / GBT /
  * LogReg with class-weight balancing, a macro-F1 Evaluator (MLlib's `f1`
  * is weighted — the reference's metric is macro, task_2.md:24), L1
  * feature selection, and a model-comparison report.
  */
class MacroF1Evaluator(override val uid: String) extends Evaluator {
  def this() = this(Identifiable.randomUID("macroF1"))
  // real ml Params (not vars) so CrossValidator's ParamMap copies — which
  // call copy(extra) — preserve the configured column names
  final val labelCol: Param[String] =
    new Param[String](this, "labelCol", "label column name")
  final val predictionCol: Param[String] =
    new Param[String](this, "predictionCol", "prediction column name")
  setDefault(labelCol -> "label", predictionCol -> "prediction")
  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)

  override def evaluate(dataset: Dataset[_]): Double =
    Metrics.macroAvg(
      dataset.toDF.select(
        col($(labelCol)).cast("long").as("label"),
        col($(predictionCol)).cast("long").as("pred")),
      "label", "pred")
      .head().getAs[Double]("macro_f1")

  override def isLargerBetter: Boolean = true
  override def copy(extra: ParamMap): MacroF1Evaluator = defaultCopy(extra)
}

object Models {

  /** Inverse-class-frequency weights (sklearn class_weight='balanced'):
    * w(c) = n / (k * n_c), from one aggregate of the per-label counts (k
    * and n count a null label too) applied as a literal `when` chain.
    * Rows with a null label are dropped and the label column comes first;
    * row order within each partition is kept.
    */
  def withBalancedWeights(df: DataFrame, labelCol: String): DataFrame = {
    val counts = df.groupBy(labelCol).agg(count(lit(1))).collect()
      .map(r => r.get(0) -> r.getLong(1))
    val k = counts.length
    val n = counts.map(_._2).sum
    val weight = counts.collect { case (label, nc) if label != null =>
      (col(labelCol) === lit(label), n.toDouble / (k.toDouble * nc))
    }.foldLeft(lit(null).cast("double")) { case (w, (isLabel, v)) =>
      when(isLabel, v).otherwise(w)
    }
    df.filter(col(labelCol).isNotNull)
      .select(col(labelCol) +: df.columns.toSeq.filter(_ != labelCol).map(col) :+
        weight.as("weight"): _*)
  }

  def assembler(features: Seq[String]): VectorAssembler =
    new VectorAssembler().setInputCols(features.toArray)
      .setOutputCol("features")

  def randomForest(
      features: Seq[String], labelCol: String, numTrees: Int = 20,
      maxDepth: Int = 5, seed: Long = 42): Pipeline = {
    val rf = new RandomForestClassifier()
      .setLabelCol(labelCol).setFeaturesCol("features")
      .setWeightCol("weight")
      .setNumTrees(numTrees).setMaxDepth(maxDepth).setSeed(seed)
    new Pipeline().setStages(Array(assembler(features), rf))
  }

  def gbt(
      features: Seq[String], labelCol: String, maxIter: Int = 20,
      maxDepth: Int = 4, seed: Long = 42): Pipeline = {
    val g = new GBTClassifier()
      .setLabelCol(labelCol).setFeaturesCol("features")
      .setWeightCol("weight")
      .setMaxIter(maxIter).setMaxDepth(maxDepth).setSeed(seed)
    new Pipeline().setStages(Array(assembler(features), g))
  }

  def logReg(
      features: Seq[String], labelCol: String, regParam: Double = 0.0,
      elasticNet: Double = 0.0, maxIter: Int = 25,
      tol: Double = 1e-4): Pipeline = {
    // tol 1e-4 = sklearn's LogisticRegression default (MLlib's 1e-6 burns
    // maxIter full passes on separable data for digits the reference
    // never computes)
    val lr = new LogisticRegression()
      .setLabelCol(labelCol).setFeaturesCol("features")
      .setWeightCol("weight").setMaxIter(maxIter).setTol(tol)
      .setRegParam(regParam).setElasticNetParam(elasticNet)
    new Pipeline().setStages(Array(assembler(features), lr))
  }

  /** M7: L1-regularized LogReg feature selection — features with nonzero
    * coefficients survive (Sol_2.ipynb cell 7 SelectFromModel).
    */
  def l1FeatureSelection(
      df: DataFrame, features: Seq[String], labelCol: String,
      regParam: Double = 0.01): Seq[(String, Double)] = {
    // materialize the weighted frame once — same reasoning as
    // crossValidate: the L1 solver's iterations must not re-derive the
    // scan + weight-join lineage
    val w = withBalancedWeights(df, labelCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    w.count()
    try {
      val model = logReg(features, labelCol, regParam, elasticNet = 1.0)
        .fit(w)
      val lrm = model.stages.last
        .asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
      val coefs: Vector = lrm.coefficients
      features.zipWithIndex.map { case (f, i) => f -> coefs(i) }
        .filter { case (_, c) => math.abs(c) > 0 }
    } finally w.unpersist(blocking = false)
  }

  /** Result of [[crossValidate]]: the grid, the per-grid-point mean CV
    * metric (accumulated in fold order, exactly as MLlib's
    * CrossValidator does), and the best point's model refit on the full
    * frame.
    *
    * `bestModel` is behind a lazy thunk (r17, guide §1.2 "don't compute
    * things you throw away"): with `fitBest = true` (the default) the
    * refit still runs eagerly inside [[crossValidate]] on the persisted
    * weighted frame — byte-for-byte the pre-r17 behavior for consumers
    * that score the model (Sol2Pipeline's cv.transform). A caller whose
    * declared output only reads the CV metrics — cv_random_search's is
    * the (grid point, avg metric) table — passes `fitBest = false` and
    * never pays the full-frame fit, the single largest fit of the search;
    * if such a caller forces `bestModel` anyway, the thunk derives its
    * own weighted frame (same values, same row order) and fits the same
    * model (CrossValidateSpec pins predictions against MLlib's own
    * CrossValidator).
    */
  final class CvResult(
      val grid: Array[ParamMap], val avgMetrics: Array[Double],
      val bestIndex: Int, refit: () => PipelineModel) {
    lazy val bestModel: PipelineModel = refit()
    def transform(df: DataFrame): DataFrame = bestModel.transform(df)
  }

  /** M11: k-fold cross-validated grid search scored by macro-F1
    * (GridSearchCV(cv=k, scoring='f1_macro'), Sol_2.ipynb cell 9).
    *
    * Value-identical reimplementation of MLlib CrossValidator's fit
    * loop with ONE scheduling change (r17, guide §2.6): MLlib runs the
    * FOLDS sequentially (its `parallelism` spans only the grid within a
    * fold), so a 2-fold × 3-point search is two sequential fit rounds
    * plus the refit; here every (fold, grid-point) fit runs in one
    * overlapped wave. The ingredients are MLlib's own, operand for
    * operand — `MLUtils.kFold` on the same persisted frame with the
    * same seed, per-point metric = the evaluator over that fold's
    * validation split, avgMetrics summed in fold order then divided by
    * numFolds, best = first max (the isLargerBetter maxBy tie-break),
    * refit on the full frame — so every metric, the selected point and
    * the refit model match the sequential run bit for bit
    * (CrossValidateSpec pins equality against MLlib's CrossValidator).
    */
  def crossValidate(
      df: DataFrame, labelCol: String, pipeline: Pipeline,
      grid: Array[ParamMap], numFolds: Int = 3, parallelism: Int = 4,
      seed: Long = 42, fitBest: Boolean = true): CvResult = {
    val ev = new MacroF1Evaluator().setLabelCol(labelCol)
      .setPredictionCol("prediction")
    // every (fold, grid-point) fit re-walks the input lineage — scan +
    // weight join — unless the weighted frame is materialized once
    val w = withBalancedWeights(df, labelCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    w.count()
    try {
      val spark = w.sparkSession
      val schema = w.schema
      val splits = org.apache.spark.mllib.util.MLUtils
        .kFold(w.toDF.rdd, numFolds, seed)
      val cached = splits.map { case (training, validation) =>
        (spark.createDataFrame(training, schema).cache(),
          spark.createDataFrame(validation, schema).cache())
      }
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.max(1, numFolds * grid.length))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val sums =
        try {
          val futs = for {
            (trainF, validF) <- cached.toSeq
            pm <- grid
          } yield scala.concurrent.Future {
            val model = pipeline.fit(trainF, pm)
            ev.evaluate(model.transform(validF, pm))
          }
          val metrics = scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(futs),
            scala.concurrent.duration.Duration.Inf)
          // futs is fold-major, so this accumulates each grid point's
          // metrics in fold order — CrossValidator's += order
          val acc = Array.fill(grid.length)(0.0)
          metrics.zipWithIndex.foreach { case (m, i) =>
            acc(i % grid.length) += m
          }
          acc
        } finally {
          pool.shutdown()
          cached.foreach { case (t, v) =>
            t.unpersist(blocking = false); v.unpersist(blocking = false)
          }
        }
      val avg = sums.map(_ / numFolds)
      val bestIdx = avg.zipWithIndex.maxBy(_._1)._2
      val refit: () => PipelineModel =
        if (fitBest) {
          // eager, on the still-persisted frame — the pre-r17 behavior
          val m = pipeline.fit(w, grid(bestIdx))
          () => m
        } else () => {
          // safety net for a fitBest=false caller that forces bestModel
          // anyway: the outer weighted frame is unpersisted by then, so
          // derive (and persist, for MLlib's multi-pass fit) a fresh one —
          // same values, same row order, hence the same fitted model
          val w2 = withBalancedWeights(df, labelCol)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try pipeline.fit(w2, grid(bestIdx))
          finally w2.unpersist(blocking = false)
        }
      new CvResult(grid, avg, bestIdx, refit)
    } finally w.unpersist(blocking = false)
  }

  /** M11 (random variant): seeded uniform sample of `nIter` points from a
    * full grid — RandomizedSearchCV(n_iter, random_state) semantics
    * (Sol_2.ipynb cell 11) as a deterministic subset of the exhaustive
    * grid, then the same k-fold CV scored by macro-F1.
    */
  def randomSearch(
      df: DataFrame, labelCol: String, pipeline: Pipeline,
      grid: Array[ParamMap], nIter: Int, numFolds: Int = 3,
      parallelism: Int = 4,
      seed: Long = 42, fitBest: Boolean = true): CvResult = {
    val sampled = sampleGrid(grid, nIter, seed)
    crossValidate(
      df, labelCol, pipeline, sampled, numFolds, parallelism, seed, fitBest)
  }

  /** Deterministic without-replacement sample of a param grid (exposed for
    * testability): Fisher-Yates shuffle seeded by `seed`, first `nIter`.
    */
  def sampleGrid(grid: Array[ParamMap], nIter: Int, seed: Long): Array[ParamMap] =
    if (nIter >= grid.length) grid
    else new scala.util.Random(seed).shuffle(grid.toList).take(nIter).toArray

  /** M12: fit each named pipeline on train, evaluate on validation,
    * return a (model, accuracy, macro_f1) report sorted best-first.
    *
    * Efficiency shape: the balanced-weight train set is computed and
    * persisted ONCE; the three fits run concurrently (independent Spark
    * jobs share the cluster); evaluation is ONE aggregation per model —
    * confusion counts (≤ k² tiny rows) collected, accuracy and macro-F1
    * derived from them driver-side with the same arithmetic as
    * `Metrics.accuracy`/`macroAvg`. `fitted` supplies pre-fitted models
    * by name (skipping that family's fit) and `onFit` observes each
    * model fitted here — together they let callers that evaluate the
    * same configuration elsewhere share one training pass without
    * pulling the fit out of the concurrent section (which would turn
    * overlapped wall time into sequential wall time).
    */
  def comparisonReport(
      train: DataFrame, valid: DataFrame, labelCol: String,
      pipelines: Seq[(String, Pipeline)],
      fitted: Map[String, PipelineModel] = Map.empty,
      onFit: (String, PipelineModel) => Unit = (_, _) => ()): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    val trainW = withBalancedWeights(train, labelCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    trainW.count() // materialize before concurrent fits race to compute it
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.max(1, pipelines.size))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val rows = try {
      val futs = pipelines.map { case (name, p) =>
        scala.concurrent.Future {
          val m: PipelineModel = fitted.getOrElse(name, {
            val f = p.fit(trainW); onFit(name, f); f
          })
          val counts = m.transform(valid)
            .select(
              col(labelCol).cast("long").as("label"),
              col("prediction").cast("long").as("pred"))
            .groupBy("label", "pred").agg(count(lit(1)).as("n"))
            .collect()
            .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
          val (acc, f1) = accuracyAndMacroF1(counts)
          (name, acc, f1)
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs),
        scala.concurrent.duration.Duration.Inf)
    } finally { pool.shutdown(); trainW.unpersist() }
    rows.toDF("model", "accuracy", "macro_f1")
      .orderBy(desc("macro_f1"), col("model"))
  }

  /** Driver-side accuracy + macro-F1 from collected confusion counts,
    * mirroring `Metrics.accuracy` / `Metrics.macroAvg` arithmetic
    * (zero_division=0; classes = labels ∪ predictions).
    */
  def accuracyAndMacroF1(
      counts: Seq[((Long, Long), Long)]): (Double, Double) = {
    val total = counts.map(_._2).sum
    val diag = counts.collect { case ((l, p), n) if l == p => n }.sum
    val acc = graft.Q.r6Double(diag.toDouble / total)
    val classes =
      (counts.map(_._1._1) ++ counts.map(_._1._2)).distinct.sorted
    val f1s = classes.map { c =>
      val tp = counts.collect { case ((l, p), n) if l == c && p == c => n }.sum
      val nPred = counts.collect { case ((_, p), n) if p == c => n }.sum
      val sup = counts.collect { case ((l, _), n) if l == c => n }.sum
      val prec = if (nPred > 0) tp.toDouble / nPred else 0.0
      val rec = if (sup > 0) tp.toDouble / sup else 0.0
      if (prec + rec > 0) 2 * prec * rec / (prec + rec) else 0.0
    }
    (acc, graft.Q.r6Double(f1s.sum / f1s.size))
  }
}
