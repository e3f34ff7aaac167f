package graft.queries

import graft.{GraftQuery, Q, QueryPack}
import graft.SparkEntry.{ShufflePartitions, withConf}
import graft.model.Models
import graft.pipeline.{HousePipeline, HouseSynth, Sol2Pipeline}
import org.apache.spark.sql.functions._

/** Driver gates for the reference's two entry-point pipelines (SURVEY §3)
  * and the M11 random-search CV operator — rows-only (seeded MLlib/tree
  * training is engine-internal, not SQL), on deterministic synthetic
  * house-schema data (the harness tables don't carry that schema).
  */
object PipelineQueries extends QueryPack {

  /** Entry point 1 (house_predict.py __main__): preprocess -> stratified
    * split -> level-wise tree -> submission. One summary row: validation
    * metrics + submission label histogram.
    */
  val housePipeline: GraftQuery = GraftQuery(
    "house_pipeline_gate",
    (s, _) => {
      val spark = s
      import spark.implicits._
      val train = HouseSynth.labeled(s, 2000, seed = 11)
      val test = HouseSynth.synth(s, 800, idBase = 200000, seed = 12)
      // The gate frame is 2000 rows but the pipeline is ~20 actions
      // (encoder/binner fits, per-level tree jobs, metrics); at the
      // session's core-count shuffle partitioning each of those actions
      // schedules 32 reducers for a few KB of data, and AQE's
      // parallelismFirst mode deliberately keeps partition count at
      // defaultParallelism rather than the advisory size. Size the
      // shuffle to the DATA for the gate's scope (same move as
      // cv_random_search's coalesce(8)): measured 20.6 -> ~14 s on the
      // r14 box. Values are partition-independent (hash split, exact
      // quantiles, deterministic tree), so the gate output is unchanged.
      val (r, hist) = withConf(s, ShufflePartitions -> "8") {
        val res = HousePipeline.run(train, test,
          HousePipeline.Config(tree = graft.tree.TreeParams(
            maxDepth = 4, minSamplesSplit = 20, minSamplesLeaf = 10,
            criterion = "entropy")))
        val h = res.submission.groupBy("label").agg(count(lit(1)).as("n"))
          .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
        (res, h)
      }
      Seq((
        Q.r6Double(r.valAccuracy), Q.r6Double(r.valMacroF1),
        hist.getOrElse(0L, 0L), hist.getOrElse(1L, 0L),
        hist.values.sum))
        .toDF("val_accuracy", "val_macro_f1", "n_label0", "n_label1",
          "n_submission")
    },
    None)

  /** Entry point 2 (Sol_2.ipynb): notebook features -> encode ->
    * stratified split -> balanced 3-model comparison -> best-family CV.
    * Output: the (model, accuracy, macro_f1) report, best-first.
    */
  val sol2Pipeline: GraftQuery = GraftQuery(
    "sol2_pipeline_gate",
    (s, _) => {
      val train = HouseSynth.labeled(s, 1000, seed = 21)
      // gate-budget config: the gate checks pipeline shape + determinism
      // (3-row report, stable values for a fixed seed), which cheaper
      // ensembles and 2 folds preserve — the comparison/CV STRUCTURE is
      // independent of per-model iteration counts (r8: 5-tree/5-iter ->
      // 3/3 and 1500 -> 1000 rows; the gate was a third of the bench
      // sweep by itself, nearly all of it fixed MLlib fit overhead)
      // Same tiny-frame shuffle pin as the house gate above (VERDICT
      // r15 task 3): the pipeline is ~30 actions (encoder fits, 3 model
      // families, CV folds) over a 1000-row synth frame — at the
      // session's 32-partition config each action schedules 32 reducers
      // for a few KB. Values are partition-independent (hash split,
      // seeded fits), so the report is unchanged; only scheduling load
      // drops. The house gate measured 20.6 -> 7.3 s from this pin.
      val r = withConf(s, ShufflePartitions -> "8") {
        Sol2Pipeline.run(train, Sol2Pipeline.Config(
          cvFolds = 2, rfNumTrees = 3, gbtMaxIter = 3))
      }
      r.report.select(
        col("model"), Q.r6(col("accuracy")).as("accuracy"),
        Q.r6(col("macro_f1")).as("macro_f1"))
    },
    None)

  /** M11 (random variant): seeded without-replacement sample of an RF
    * param grid, k-fold CV scored by macro-F1 — the sampled points and
    * their mean CV metric, best-first (deterministic given the seed).
    */
  val cvRandomSearch: GraftQuery = GraftQuery(
    "cv_random_search",
    (s, dir) => {
      val spark = s
      import spark.implicits._
      // deterministic 10% sample, like l1_feature_selection: this gate
      // checks the seeded grid-sampling + k-fold CV STRUCTURE, not RF
      // throughput (rf_train_eval keeps the full-data fit); coalesce so
      // the ~12 per-fold fits aren't task-scheduling-dominated
      val d = graft.split.Splits.hashSample(
          graft.Tables(s, dir, "lineitem"), col("l_orderkey"), pct = 10)
        .coalesce(8)
        .select(
          col("l_quantity"), col("l_discount"), col("l_tax"),
          col("l_extendedprice"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("label"))
      val feats =
        Seq("l_quantity", "l_discount", "l_tax", "l_extendedprice")
      val rf = new org.apache.spark.ml.classification.RandomForestClassifier()
        .setFeaturesCol("features").setLabelCol("label")
        .setWeightCol("weight").setSeed(42)
      val pipe = new org.apache.spark.ml.Pipeline().setStages(
        Array(Models.assembler(feats), rf))
      // Canonical grid order before the seeded sample (r17 correctness
      // fix): ParamGridBuilder.build() iterates a hash map keyed by the
      // estimator's RANDOM uid, so the pre-shuffle order — and therefore
      // the seeded without-replacement sample — differed from JVM to JVM
      // (two identical-code Verify dumps drew different grid points).
      // Sorting by the param values pins the RandomizedSearchCV
      // random_state contract the query documents.
      val grid = new org.apache.spark.ml.tuning.ParamGridBuilder()
        .addGrid(rf.numTrees, Array(2, 4))
        .addGrid(rf.maxDepth, Array(2, 3, 4))
        .build()
        .sortBy(pm => (pm.get(rf.numTrees).get, pm.get(rf.maxDepth).get))
      // parallelism 6 = the (param, fold) fit count, so all six seeded
      // fits run as ONE overlapped wave (execution-only knob — fit
      // results don't depend on it; r17, guide §2.6). fitBest=false: the
      // declared output below reads only grid + avgMetrics, so the
      // best-point refit on the FULL frame — the search's single largest
      // fit — is dead work here (r17, guide §1.2; RandomizedSearchCV
      // refit is an option for a reason)
      val cv = Models.randomSearch(
        d, "label", pipe, grid, nIter = 3, numFolds = 2,
        parallelism = 6, seed = 42, fitBest = false)
      cv.grid.zip(cv.avgMetrics).toSeq
        .map { case (pm, m) =>
          (pm.get(rf.numTrees).get, pm.get(rf.maxDepth).get, Q.r6Double(m))
        }
        .toDF("num_trees", "max_depth", "avg_macro_f1")
        .orderBy(desc("avg_macro_f1"), col("num_trees"), col("max_depth"))
    },
    None)

  override def queries: Seq[GraftQuery] = Seq(
    housePipeline, sol2Pipeline, cvRandomSearch)
}
