package graft.tree

import graft.SparkTestSession
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DecisionTreeSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("perfectly separable data: one split, perfect predictions") {
    val df = Seq(
      (1.0, 0L), (2.0, 0L), (3.0, 0L), (10.0, 1L), (11.0, 1L), (12.0, 1L))
      .toDF("x", "label")
    val m = DecisionTree.fit(df, Seq("x"), "label", TreeParams(maxDepth = 3))
    m.root match {
      case TreeSplit("x", thr, TreeLeaf(0L, 3, _), TreeLeaf(1L, 3, _)) =>
        assert(thr == 3.0) // lowest threshold achieving max gain
      case other => fail(s"unexpected tree: $other")
    }
    val acc = m.transform(df, "p")
      .agg(avg(when(col("p") === col("label"), 1.0).otherwise(0.0))).head()
    assert(acc.getDouble(0) == 1.0)
  }

  test("pure node stops immediately (root leaf)") {
    val df = Seq((1.0, 1L), (2.0, 1L), (3.0, 1L)).toDF("x", "label")
    val m = DecisionTree.fit(df, Seq("x"), "label", TreeParams())
    // labels are discovered from data: only class 1 exists here
    assert(m.root == TreeLeaf(1L, 3, Seq(3L)))
  }

  test("zero-gain data becomes a majority leaf with argmax-first tie-break") {
    // identical x -> no candidate splits; counts 2 vs 2 -> label 0 (first)
    val df = Seq((1.0, 0L), (1.0, 0L), (1.0, 1L), (1.0, 1L)).toDF("x", "label")
    val m = DecisionTree.fit(df, Seq("x"), "label", TreeParams())
    assert(m.root == TreeLeaf(0L, 4, Seq(2L, 2L)))
  }

  test("min_samples_split and max_depth stop expansion") {
    val df = Seq(
      (1.0, 0L), (2.0, 1L), (3.0, 0L), (4.0, 1L)).toDF("x", "label")
    val shallow = DecisionTree.fit(df, Seq("x"), "label",
      TreeParams(maxDepth = 0))
    assert(shallow.root.isInstanceOf[TreeLeaf])
    val minSplit = DecisionTree.fit(df, Seq("x"), "label",
      TreeParams(minSamplesSplit = 5))
    assert(minSplit.root.isInstanceOf[TreeLeaf])
  }

  test("min_samples_leaf filters candidates") {
    // best split x<=1 (isolating one 1-label row) forbidden with msl=2
    val df = Seq((1.0, 1L), (2.0, 0L), (3.0, 0L), (4.0, 1L), (5.0, 1L))
      .toDF("x", "label")
    val m = DecisionTree.fit(df, Seq("x"), "label",
      TreeParams(maxDepth = 1, minSamplesLeaf = 2))
    m.root match {
      case TreeSplit(_, thr, _, _) => assert(thr >= 2.0)
      case TreeLeaf(_, _, _)       => () // acceptable if no candidate survives
    }
  }

  test("depth-2 tree on AND data learns both levels") {
    // label = x>5 AND y>5: root split has positive gain, level 2 finishes
    val rows = for {
      x <- 1 to 10; y <- 1 to 10
    } yield (x.toDouble, y.toDouble, if (x > 5 && y > 5) 1L else 0L)
    val df = rows.toDF("x", "y", "label")
    val m = DecisionTree.fit(df, Seq("x", "y"), "label",
      TreeParams(maxDepth = 2))
    assert(m.depth == 2)
    val acc = m.transform(df, "p")
      .agg(avg(when(col("p") === col("label"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    assert(acc == 1.0)
  }

  test("binned mode approximates exact mode on smooth data") {
    val rows = (1 to 200).map(i => (i.toDouble, if (i > 120) 1L else 0L))
    val df = rows.toDF("x", "label")
    val exact = DecisionTree.fit(df, Seq("x"), "label", TreeParams(maxDepth = 1))
    val binned = DecisionTree.fit(df, Seq("x"), "label",
      TreeParams(maxDepth = 1, maxBins = Some(32)))
    val accOf = (m: TreeModel) => m.transform(df, "p")
      .agg(avg(when(col("p") === col("label"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    assert(accOf(exact) == 1.0)
    assert(accOf(binned) > 0.95)
  }

  test("importance counts splits and rules enumerate leaves") {
    val rows = for {
      x <- 1 to 10; y <- 1 to 10
    } yield (x.toDouble, y.toDouble, if (x > 5 && y > 5) 1L else 0L)
    val df = rows.toDF("x", "y", "label")
    val m = DecisionTree.fit(df, Seq("x", "y"), "label", TreeParams(maxDepth = 2))
    val imp = m.importance.toMap
    assert(math.abs(imp.values.sum - 1.0) < 1e-9)
    assert(imp("x") > 0 && imp("y") > 0)
    assert(m.rules.length >= 3) // at least 3 leaves for XOR at depth 2
  }

  test("rootGains skips the lowest distinct value (reference unique_values[1:])") {
    // distinct x = 1,2,3: min (1.0) is never a candidate even though its
    // left child satisfies minSamplesLeaf; max (3.0) drops out via the
    // empty-right rule -> the only candidate is 2.0
    val df = Seq((1.0, 0L), (1.0, 1L), (2.0, 0L), (3.0, 1L)).toDF("x", "label")
    val thr = DecisionTree.rootGains(df, "x", "label", Seq(0L, 1L))
      .select("threshold").collect().map(_.getDouble(0)).toSet
    assert(thr == Set(2.0))
  }

  test("null feature values are excluded from stats and route right") {
    val df = Seq(
      (Option(1.0), 0L), (Option(2.0), 0L),
      (Option(10.0), 1L), (Option(11.0), 1L),
      (Option.empty[Double], 1L), (Option.empty[Double], 1L))
      .toDF("x", "label")
    val m = DecisionTree.fit(df, Seq("x"), "label", TreeParams(maxDepth = 2))
    m.root match {
      case TreeSplit("x", thr, _, right) =>
        assert(thr == 2.0) // stats computed over non-null values only
        // right child counts include the null rows (total - left)
        assert(right == TreeLeaf(1L, 4, Seq(0L, 4L)))
      case other => fail(s"expected a split, got $other")
    }
    val nullPreds = m.transform(df, "p").filter(col("x").isNull)
      .select("p").collect().map(_.getLong(0))
    assert(nullPreds.toSeq == Seq(1L, 1L))
  }

  test("probaExpr/probaOf emit leaf distributions; pathExpr matches predictions") {
    val df = Seq((1.0, 0L), (2.0, 0L), (3.0, 1L), (4.0, 1L), (5.0, 1L))
      .toDF("x", "label")
    val m = DecisionTree.fit(df, Seq("x"), "label", TreeParams(maxDepth = 1))
    val rows = df
      .withColumn("proba", m.probaExpr)
      .withColumn("p1", m.probaOf(1L))
      .withColumn("path", m.pathExpr())
      .withColumn("pred", m.predictExpr)
      .collect()
    rows.foreach { r =>
      val proba = r.getSeq[Double](r.fieldIndex("proba"))
      assert(math.abs(proba.sum - 1.0) < 1e-9)
      assert(proba(1) == r.getDouble(r.fieldIndex("p1")))
      // the path string's leaf label agrees with predictExpr
      assert(r.getString(r.fieldIndex("path"))
        .endsWith(s"label=${r.getLong(r.fieldIndex("pred"))}"))
      // pure leaves on this data -> one-hot distributions
      assert(proba.contains(1.0))
    }
    // 2 distinct paths (left/right of the single split)
    assert(rows.map(_.getString(rows.head.fieldIndex("path"))).distinct.length == 2)
  }

  test("deterministic across runs with feature sampling") {
    val rows = (1 to 100).map(i =>
      (i.toDouble, (i % 7).toDouble, (i % 3).toDouble,
        if (i % 2 == 0) 1L else 0L))
    val df = rows.toDF("a", "b", "c", "label")
    val p = TreeParams(maxDepth = 3, maxFeatures = Some("sqrt"), seed = 7)
    val m1 = DecisionTree.fit(df, Seq("a", "b", "c"), "label", p)
    val m2 = DecisionTree.fit(df, Seq("a", "b", "c"), "label", p)
    assert(m1.root == m2.root)
  }

  test("a null label fails with an error that names the label column") {
    val df = Seq((1.0, Option(0L)), (2.0, None), (3.0, Option(1L)))
      .toDF("x", "y")
    val e = intercept[IllegalArgumentException](
      DecisionTree.fit(df, Seq("x"), "y", TreeParams()))
    assert(e.getMessage.contains("'y'"))
  }

  test("each searched level costs one Spark job") {
    // labels repeat every 8 x values: every node down to depth 3 has a
    // positive-gain split, so levels 0, 1 and 2 are searched
    val df = (1 to 48).map(i => (i.toDouble, if (i % 8 < 3) 1L else 0L))
      .toDF("x", "label")
    def fitJobs(p: TreeParams): (Int, TreeModel) =
      jobsOf(DecisionTree.fit(df, Seq("x"), "label", p))
    // maxDepth = 0 searches nothing: only the label/root-count aggregate
    val (aggregateJobs, stump) = fitJobs(TreeParams(maxDepth = 0))
    assert(stump.depth == 0)
    val (jobs, m) = fitJobs(TreeParams(maxDepth = 3))
    assert(m.depth == 3)
    assert(jobs - aggregateJobs == 3)
  }

  test("the compiled expressions are the spelled-out when-chains over the tree") {
    val m = TreeModel(
      TreeSplit("x", 1.5, TreeLeaf(0L, 3, Seq(3L, 0L)),
        TreeSplit("z", 2.0, TreeLeaf(1L, 2, Seq(0L, 2L)), TreeLeaf(0L, 4, Seq(3L, 1L)))),
      Seq("x", "z"), Seq(0L, 1L), TreeParams())
    val df = Seq((1.0, 2.0)).toDF("x", "z")
    def resolved(c: Column) =
      df.select(c.as("o")).queryExecution.analyzed.expressions.head.children.head
    def chain(a: Column, b: Column, c: Column) =
      when(col("x") <= lit(1.5), a).otherwise(when(col("z") <= lit(2.0), b).otherwise(c))
    assert(resolved(m.predictExpr) == resolved(chain(lit(0L), lit(1L), lit(0L))))
    assert(resolved(m.probaOf(1L)) == resolved(chain(lit(0.0), lit(1.0), lit(0.25))))
    assert(resolved(m.probaExpr) == resolved(chain(
      array(lit(1.0), lit(0.0)), array(lit(0.0), lit(1.0)), array(lit(0.75), lit(0.25)))))
    assert(resolved(m.pathExpr(TreeModel.fmt6)) == resolved(chain(
      lit("x <= 1.500000 => label=0"),
      lit("x > 1.500000 AND z <= 2.000000 => label=1"),
      lit("x > 1.500000 AND z > 2.000000 => label=0"))))
  }
}
