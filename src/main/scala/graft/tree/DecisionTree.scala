package graft.tree

import graft.transform.QuantileBinner
import org.apache.spark.Partitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Distributed decision-tree training with the reference's exact
  * semantics (sol_2/house_predict.py:212-369), re-architected level-wise
  * (PLANET-style) for Spark:
  *
  *  - the driver holds only the tree + per-node class counts;
  *  - a fit loads its rows once into one persisted column block per
  *    partition, each feature's rows presorted by value (SPRINT's
  *    attribute lists); a level keeps only a node id per row;
  *  - one Spark job per level searches ALL frontier nodes at once: each
  *    map task walks every sampled feature's presorted rows once and sends
  *    one per-class count cell per (node, feature, value) run through a
  *    shuffle that hash-partitions on (node, feature) and sorts each
  *    partition by value; a streaming scan then walks each (node, feature)
  *    group in value order with O(classes) state and keeps its best split;
  *  - the driver applies the reference's stopping rules
  *    (house_predict.py:325-334) and tie-breaks (first feature in sampled
  *    order, lowest threshold, strict gain improvement — :310-313), then
  *    routes each row's node id to a child with the level's split table.
  *
  * Exact mode (maxBins=None) searches every distinct value like the
  * reference (:275-283); `maxBins=Some(k)` pre-quantizes features with
  * exact-quantile edges — the 100-TB scalable mode (MLlib-style binning).
  *
  * Known reference bug NOT replicated (SURVEY §7.5): `_get_feature_subset`
  * reseeds identically per call so every node samples the same subset; we
  * seed per node with seed+nodeId.
  */
sealed trait TreeNode
final case class TreeLeaf(label: Long, n: Long, counts: Seq[Long])
    extends TreeNode
final case class TreeSplit(
    feature: String, threshold: Double, left: TreeNode, right: TreeNode)
    extends TreeNode

final case class TreeParams(
    maxDepth: Int = 5,
    minSamplesSplit: Int = 2,
    minSamplesLeaf: Int = 1,
    maxFeatures: Option[String] = None, // None | "sqrt" | "log2" | "<int>"
    criterion: String = "entropy",      // entropy | gini
    seed: Long = 42,
    maxBins: Option[Int] = None)

final case class TreeModel(
    root: TreeNode, features: Seq[String], labels: Seq[Long],
    params: TreeParams) {

  /** The tree compiled to one nested `when` expression: codegen'd scalar
    * inference at scan speed (the reference predicts row by row in
    * Python, house_predict.py:371-387). `leaf` gives a leaf's value from
    * the leaf and the splits above it, innermost first, each paired with
    * whether the row went left. Nulls route right.
    */
  private def whenChain(leaf: (TreeLeaf, List[(TreeSplit, Boolean)]) => Column): Column = {
    def go(n: TreeNode, path: List[(TreeSplit, Boolean)]): Column = n match {
      case l: TreeLeaf => leaf(l, path)
      case s @ TreeSplit(f, t, lft, rgt) =>
        when(col(f) <= lit(t), go(lft, (s, true) :: path))
          .otherwise(go(rgt, (s, false) :: path))
    }
    go(root, Nil)
  }

  def predictExpr: Column = whenChain((l, _) => lit(l.label))

  def transform(df: DataFrame, out: String = "prediction"): DataFrame =
    df.withColumn(out, predictExpr)

  /** Leaf class distribution as probabilities, aligned with `labels` —
    * richer than the reference's one-hot predict_proba
    * (house_predict.py:389-394; documented divergence, SURVEY §7.5).
    */
  def probaExpr: Column = whenChain { (l, _) =>
    val t = math.max(l.n, 1L).toDouble
    array(l.counts.map(c => lit(c / t)): _*)
  }

  /** Probability of a single class (e.g. the positive class, for ROC-AUC
    * over tree scores).
    */
  def probaOf(label: Long): Column = {
    val i = labels.indexOf(label)
    require(i >= 0, s"unknown label $label (labels: $labels)")
    whenChain((l, _) => lit(l.counts(i) / math.max(l.n, 1L).toDouble))
  }

  /** Per-row decision path (house_predict_model.ipynb cell 14's per-sample
    * path printout) — a when-chain over path-string LITERALS, so
    * inference stays codegen'd with zero per-row string building.
    *
    * `fmt` renders thresholds; the default is Scala's Double.toString.
    * Pass [[TreeModel.fmt6]] for fixed 6-decimal output that is
    * bit-reproducible from SQL `printf('%.6f', t)` (oracle parity).
    */
  def pathExpr(fmt: Double => String = _.toString): Column = whenChain { (l, path) =>
    val steps = path.reverse.map { case (s, left) =>
      s"${s.feature} ${if (left) "<=" else ">"} ${fmt(s.threshold)}"
    }
    lit((if (steps.isEmpty) "(root)" else steps.mkString(" AND ")) + s" => label=${l.label}")
  }

  /** Split-count importance, normalized (house_predict.py:396-418). */
  def importance: Seq[(String, Double)] = {
    def counts(n: TreeNode): Map[String, Int] = n match {
      case TreeLeaf(_, _, _) => Map.empty
      case TreeSplit(f, _, l, r) =>
        (counts(l).toSeq ++ counts(r).toSeq ++ Seq(f -> 1))
          .groupMapReduce(_._1)(_._2)(_ + _)
    }
    val c = counts(root)
    val tot = c.values.sum.toDouble.max(1.0)
    features.map(f => f -> c.getOrElse(f, 0) / tot)
  }

  /** Textual decision rules (house_predict_model.ipynb cell 14). */
  def rules: Seq[String] = {
    def go(n: TreeNode, path: List[String]): Seq[String] = n match {
      case TreeLeaf(l, cnt, _) =>
        Seq((if (path.isEmpty) "(root)" else path.reverse.mkString(" AND "))
          + s" => label=$l (n=$cnt)")
      case TreeSplit(f, t, lft, rgt) =>
        go(lft, s"$f <= $t" :: path) ++ go(rgt, s"$f > $t" :: path)
    }
    go(root, Nil)
  }

  def depth: Int = {
    def d(n: TreeNode): Int = n match {
      case TreeLeaf(_, _, _)     => 0
      case TreeSplit(_, _, l, r) => 1 + math.max(d(l), d(r))
    }
    d(root)
  }
}

object TreeModel {
  /** Locale-stable fixed 6-decimal threshold formatter (= SQL
    * `printf('%.6f', t)` for the non-tie doubles this engine produces).
    */
  def fmt6(t: Double): String =
    String.format(java.util.Locale.ROOT, "%.6f", Double.box(t))
}

object DecisionTree {

  /** Shuffle key of one histogram cell: a (node, feature) group, a null
    * flag, and the raw bits of the value. Values are normalised before the
    * bits are taken (-0.0 -> 0.0; `doubleToLongBits` keeps one NaN), so
    * equal bits mean Spark-equal values. A `Double` field would never
    * match NaN keys, since NaN != NaN.
    */
  private final case class Cell(node: Int, feat: Int, isNull: Boolean, bits: Long) {
    def value: Double = java.lang.Double.longBitsToDouble(bits)
  }

  /** (node, feature), then the group's null cell, then values in Spark's
    * double order: on normalised values `Double.compare` is that order,
    * with NaN last.
    */
  private object CellOrdering extends Ordering[Cell] {
    def compare(a: Cell, b: Cell): Int = {
      val byGroup =
        if (a.node != b.node) Integer.compare(a.node, b.node)
        else Integer.compare(a.feat, b.feat)
      if (byGroup != 0) byGroup
      else if (a.isNull != b.isNull) { if (a.isNull) -1 else 1 }
      else java.lang.Double.compare(a.value, b.value)
    }
  }

  /** Sends every cell of a (node, feature) group to one reduce task. */
  private final class GroupPartitioner(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = {
      val c = key.asInstanceOf[Cell]
      Math.floorMod(31 * c.node + c.feat, numPartitions)
    }
  }

  /** One partition's training rows as columns, loaded once per fit. Row
    * `i` starts in node `node(i)` and has class index `cls(i)`. For feature
    * `j`, `vals(j)(i)` is the row's value, normalised (-0.0 -> 0.0) and NaN
    * where null; `order(j)` lists the rows with the `nulls(j)` null rows
    * first, then by value in Spark's double order (`Double.compare` on
    * normalised values, NaN last).
    */
  private final class Block(
      val node: Array[Int], val cls: Array[Int], val vals: Array[Array[Double]],
      val nulls: Array[Int], val order: Array[Array[Int]]) extends Serializable

  /** `rows` (node int, label long, then the features as doubles) as one
    * [[Block]] per partition; `labels` must hold every label.
    */
  private def load(rows: DataFrame, labels: Seq[Long]): RDD[Block] = {
    val classOf = labels.zipWithIndex.toMap
    val nFeat = rows.schema.size - 2
    rows.queryExecution.toRdd.mapPartitions { it =>
      val node, cls = new scala.collection.mutable.ArrayBuilder.ofInt
      val vals = Array.fill(nFeat)(new scala.collection.mutable.ArrayBuilder.ofDouble)
      val nullRows, valueRows = Array.fill(nFeat)(new scala.collection.mutable.ArrayBuilder.ofInt)
      var i = 0
      it.foreach { r =>
        node += r.getInt(0)
        cls += classOf(r.getLong(1))
        var j = 0
        while (j < nFeat) {
          if (r.isNullAt(2 + j)) { vals(j) += Double.NaN; nullRows(j) += i }
          else {
            val v = r.getDouble(2 + j)
            vals(j) += (if (v == 0.0) 0.0 else v)
            valueRows(j) += i
          }
          j += 1
        }
        i += 1
      }
      val v = vals.map(_.result())
      val order = Array.tabulate(nFeat)(j =>
        nullRows(j).result() ++ sortByValue(valueRows(j).result(), v(j)))
      Iterator.single(new Block(
        node.result(), cls.result(), v, nullRows.map(_.length), order))
    }
  }

  /** `rows` stably sorted by `Double.compare` of their values in `v`: a
    * bottom-up merge sort on primitive arrays.
    */
  private def sortByValue(rows: Array[Int], v: Array[Double]): Array[Int] = {
    val n = rows.length
    var from = rows
    var to = new Array[Int](n)
    var width = 1
    while (width < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + width, n)
        val hi = math.min(lo + 2 * width, n)
        var a = lo
        var b = mid
        var o = lo
        while (o < hi) {
          if (b >= hi || (a < mid && java.lang.Double.compare(v(from(a)), v(from(b))) <= 0)) {
            to(o) = from(a); a += 1
          } else { to(o) = from(b); b += 1 }
          o += 1
        }
        lo = hi
      }
      val t = from; from = to; to = t
      width *= 2
    }
    from
  }

  /** One map task of a level: walks each sampled feature's presorted rows
    * once and emits, per run of equal values (the null rows are one run),
    * one cell per node with rows in the run, holding that node's class
    * counts in it. Rows whose node is not in `featsOf` (node -> indexes of
    * its sampled features) are skipped. The state is one class-count row
    * per searched node.
    */
  private def walk(
      b: Block, nodeOf: Array[Int], featsOf: Map[Int, Array[Int]],
      k: Int): Iterator[(Cell, Array[Long])] = {
    val ids = featsOf.keys.toArray.sorted
    val nFeat = b.vals.length
    val sampled = ids.map { id =>
      val s = new Array[Boolean](nFeat)
      featsOf(id).foreach(s(_) = true)
      s
    }
    // each row's index into `ids`, or -1
    val slot = nodeOf.map { id =>
      val s = if (id < 0) -1 else java.util.Arrays.binarySearch(ids, id)
      if (s < 0) -1 else s
    }
    val acc = new Array[Long](ids.length * k)
    val inRun = new Array[Boolean](ids.length)
    val hit = new Array[Int](ids.length) // slots with rows in the run, first hit first
    val out = new Array[(Cell, Array[Long])](ids.length)

    new Iterator[(Cell, Array[Long])] {
      private var feat = -1
      private var pos = nodeOf.length // next index into `feat`'s order
      private var nOut, emitted = 0   // cells of the last run; emitted so far

      def hasNext: Boolean = {
        while (emitted == nOut && advance()) {}
        emitted < nOut
      }

      def next(): (Cell, Array[Long]) = {
        if (!hasNext) throw new NoSuchElementException
        emitted += 1
        out(emitted - 1)
      }

      /** Counts the next run into `out`; false once every feature is walked. */
      private def advance(): Boolean = {
        while (pos == nodeOf.length) {
          feat += 1
          while (feat < nFeat && !sampled.exists(_(feat))) feat += 1
          if (feat == nFeat) return false
          pos = 0
        }
        val order = b.order(feat)
        val v = b.vals(feat)
        val isNull = pos < b.nulls(feat)
        val bits = if (isNull) 0L else java.lang.Double.doubleToLongBits(v(order(pos)))
        val end =
          if (isNull) b.nulls(feat)
          else {
            var e = pos + 1
            while (e < order.length &&
                java.lang.Double.doubleToLongBits(v(order(e))) == bits) e += 1
            e
          }
        var nHit = 0
        while (pos < end) {
          val r = order(pos)
          val s = slot(r)
          if (s >= 0 && sampled(s)(feat)) {
            if (!inRun(s)) { inRun(s) = true; hit(nHit) = s; nHit += 1 }
            acc(s * k + b.cls(r)) += 1L
          }
          pos += 1
        }
        var o = 0
        while (o < nHit) {
          val s = hit(o)
          out(o) = (Cell(ids(s), feat, isNull, bits),
            java.util.Arrays.copyOfRange(acc, s * k, s * k + k))
          java.util.Arrays.fill(acc, s * k, s * k + k, 0L)
          inRun(s) = false
          o += 1
        }
        nOut = nHit
        emitted = 0
        true
      }
    }
  }

  /** The level's one shuffle: the [[walk]] of every partition, hash-
    * partitioned on (node, feature) and sorted by the full key within each
    * reduce partition. A map task sends at most one cell per key, so
    * nothing is combined on either side here; [[candidates]] sums equal
    * keys as they arrive side by side.
    */
  private def histogram(
      blocks: RDD[Block], nodes: RDD[Array[Int]], featsOf: Map[Int, Array[Int]],
      k: Int, parts: Int): RDD[(Cell, Array[Long])] = {
    val cells = blocks.zipPartitions(nodes)((bs, ns) =>
      walk(bs.next(), ns.next(), featsOf, k))
    new ShuffledRDD[Cell, Array[Long], Array[Long]](cells, new GroupPartitioner(parts))
      .setKeyOrdering(CellOrdering)
  }

  /** One split candidate of a (node, feature) group: `left` holds the
    * per-class counts at or below `threshold`, `ln` their sum, and `tn`
    * the group's rows with a non-null value.
    */
  private[tree] final case class Candidate(
      node: Int, feat: Int, threshold: Double, ln: Long, tn: Long,
      gain: Double, left: Seq[Long])

  private val Ln2 = StrictMath.log(2)

  /** Impurity of a class-count vector (the reference's vectorized
    * entropy/gini, house_predict.py:228-245). The operand order and the
    * `StrictMath` log are those of the same formula in Spark SQL, so the
    * gains are bit-identical to it and to DuckDB's ([[oracleGainSql]]).
    */
  private def impurity(criterion: String): (Array[Long], Long) => Double =
    criterion match {
      case "entropy" => (c, n) => {
        def term(i: Int) =
          if (c(i) > 0) (c(i).toDouble / n) * (StrictMath.log(c(i).toDouble / n) / Ln2)
          else 0.0
        var s = term(0)
        var i = 1
        while (i < c.length) { s += term(i); i += 1 }
        -s
      }
      case "gini" => (c, n) => {
        def sq(i: Int) = (c(i).toDouble / n) * (c(i).toDouble / n)
        var s = sq(0)
        var i = 1
        while (i < c.length) { s += sq(i); i += 1 }
        1.0 - s
      }
      case other => throw new IllegalArgumentException(s"criterion $other")
    }

  /** Row count per label, in label order, from one aggregate. A null label
    * has no class, so it is rejected here with the column's name.
    */
  private def labelCounts(df: DataFrame, labelCol: String): Seq[(Long, Long)] = {
    val rows = df.groupBy(col(labelCol).cast("long")).count().collect()
    if (rows.exists(_.isNullAt(0)))
      throw new IllegalArgumentException(
        s"label column '$labelCol' contains null values")
    rows.map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
  }

  /** Streams one reduce partition of [[histogram]] into split candidates
    * with O(classes) state. Equal cells (one per map task at most) arrive
    * side by side and are summed first. Per (node, feature) group the null
    * cell comes first: the node's class counts (`counts`, kept with the
    * frontier) minus the null counts are the non-null totals. Values then
    * arrive in Spark's double order. The lowest distinct value is never a
    * candidate (the reference iterates `unique_values[1:]`,
    * house_predict.py:283), nor is one that leaves either child under
    * `minSamplesLeaf` rows (so never the max value: its right child is
    * empty).
    *
    * Null feature values are excluded from the gain: at routing and
    * inference `x <= thr` is null for them, so they fall to the RIGHT
    * child, whose counts `fit` takes as node total - left counts.
    */
  private def candidates(
      cells: Iterator[(Cell, Array[Long])], counts: Map[Int, Array[Long]],
      impurity: (Array[Long], Long) => Double,
      minSamplesLeaf: Int): Iterator[Candidate] = {
    val in = cells.buffered
    val summed = new Iterator[(Cell, Array[Long])] {
      def hasNext: Boolean = in.hasNext
      def next(): (Cell, Array[Long]) = {
        val (cell, c) = in.next()
        while (in.hasNext && in.head._1 == cell) {
          val d = in.next()._2
          for (i <- c.indices) c(i) += d(i)
        }
        (cell, c)
      }
    }
    var node, feat = -1
    var tot, left = Array.emptyLongArray
    var tn, ln = 0L
    var first = true
    summed.flatMap { case (cell, c) =>
      if (cell.node != node || cell.feat != feat) {
        node = cell.node; feat = cell.feat
        tot = counts(node).clone(); left = new Array[Long](tot.length)
        tn = tot.sum; ln = 0L; first = true
      }
      if (cell.isNull) {
        for (i <- c.indices) tot(i) -= c(i)
        tn -= c.sum
        None
      } else {
        for (i <- c.indices) left(i) += c(i)
        ln += c.sum
        val rn = tn - ln
        val lowest = first
        first = false
        if (lowest || ln < minSamplesLeaf || rn < minSamplesLeaf) None
        else {
          val right = Array.tabulate(tot.length)(i => tot(i) - left(i))
          val gain = impurity(tot, tn) - (ln.toDouble / tn) * impurity(left, ln) -
            (rn.toDouble / tn) * impurity(right, rn)
          Some(Candidate(node, feat, cell.value, ln, tn, gain, left.toSeq))
        }
      }
    }
  }

  /** Max-gain candidate per (node, feature) group, lowest threshold on
    * ties: a group's candidates arrive in threshold order and only a
    * strictly larger gain replaces the kept one.
    */
  private def bestPerGroup(cands: Iterator[Candidate]): Iterator[Candidate] = {
    val in = cands.buffered
    new Iterator[Candidate] {
      def hasNext: Boolean = in.hasNext
      def next(): Candidate = {
        var best = in.next()
        while (in.hasNext && in.head.node == best.node && in.head.feat == best.feat) {
          val c = in.next()
          if (c.gain > best.gain) best = c
        }
        best
      }
    }
  }

  /** Best split of every (node, sampled feature) pair in ONE job: one
    * [[histogram]] shuffle, a [[candidates]] scan per reduce partition,
    * and a collect of one [[Candidate]] per pair that has any, keyed by
    * (node, feature index). `featsOf` maps each searched node to its
    * sampled feature indexes; `counts` are those nodes' per-class row
    * counts.
    */
  private def levelSplits(
      blocks: RDD[Block], nodes: RDD[Array[Int]], featsOf: Map[Int, Array[Int]],
      counts: Map[Int, Seq[Long]], criterion: String, minSamplesLeaf: Int,
      parts: Int): Map[(Int, Int), Candidate] = {
    val imp = impurity(criterion)
    val totals = counts.map { case (id, c) => id -> c.toArray }
    val k = totals.head._2.length
    histogram(blocks, nodes, featsOf, k, parts)
      .mapPartitions(cells =>
        bestPerGroup(candidates(cells, totals, imp, minSamplesLeaf)))
      .collect()
      .map(c => (c.node, c.feat) -> c).toMap
  }

  /** [[levelSplits]] over a frame of columns __node (int), label (long)
    * and the features, each row starting in its __node; `counts` are
    * those nodes' per-class row counts, aligned with `labels`.
    */
  private[tree] def bestSplits(
      rows: DataFrame, featsOf: Map[Int, Seq[String]],
      counts: Map[Int, Seq[Long]], labels: Seq[Long], criterion: String,
      minSamplesLeaf: Int): Map[(Int, String), Candidate] = {
    val feats = featsOf.values.flatten.toSeq.distinct
    val blocks = load(
      rows.select(col("__node") +: col("label") +: feats.map(col(_).cast("double")): _*),
      labels)
    val featIdx = featsOf.map { case (id, fs) => id -> fs.map(feats.indexOf).toArray }
    levelSplits(blocks, blocks.map(_.node), featIdx, counts, criterion, minSamplesLeaf,
      graft.SparkEntry.shufflePartitions(rows.sparkSession))
      .map { case ((id, j), c) => (id, feats(j)) -> c }
  }

  /** Root-level gain table for one feature, every candidate
    * (threshold, ln, tn, gain): the trainer's split search exposed for the
    * differential oracle. `labels` must cover every label in `df`.
    */
  def rootGains(
      df: DataFrame, feature: String, labelCol: String, labels: Seq[Long],
      criterion: String = "entropy", minSamplesLeaf: Int = 1): DataFrame = {
    val counts = labelCounts(df, labelCol).toMap
    val unknown = counts.keySet -- labels
    require(unknown.isEmpty,
      s"labels ${unknown.mkString(", ")} of '$labelCol' are not in $labels")
    val imp = impurity(criterion)
    val root = Map(0 -> labels.map(counts.getOrElse(_, 0L)).toArray)
    val blocks = load(
      df.select(lit(0), col(labelCol).cast("long"), col(feature).cast("double")), labels)
    val gains = histogram(blocks, blocks.map(_.node), Map(0 -> Array(0)),
        labels.size, graft.SparkEntry.shufflePartitions(df.sparkSession))
      .mapPartitions(candidates(_, root, imp, minSamplesLeaf))
      .map(c => Row(c.threshold, c.ln, c.tn, c.gain))
    df.sparkSession.createDataFrame(gains, StructType(Seq(
      StructField("threshold", DoubleType, nullable = false),
      StructField("ln", LongType, nullable = false),
      StructField("tn", LongType, nullable = false),
      StructField("gain", DoubleType, nullable = false))))
  }

  /** Next level's node per row: a row of a split node (`ids`, sorted,
    * with their `feats` and `thresholds`) goes to child 2id+1 when
    * `x <= threshold` and to 2id+2 otherwise, so null and NaN go right as
    * in [[TreeModel.predictExpr]]; every other row leaves the tree (-1).
    */
  private def route(
      b: Block, nodeOf: Array[Int], ids: Array[Int], feats: Array[Int],
      thresholds: Array[Double]): Array[Int] =
    Array.tabulate(nodeOf.length) { r =>
      val id = nodeOf(r)
      val s = if (id < 0) -1 else java.util.Arrays.binarySearch(ids, id)
      if (s < 0) -1
      else if (b.vals(feats(s))(r) <= thresholds(s)) 2 * id + 1
      else 2 * id + 2
    }

  def fit(
      input: DataFrame, features: Seq[String], labelCol: String,
      params: TreeParams): TreeModel = {

    // Optional scalable mode: pre-quantize features, train on bucket
    // codes, map thresholds back to bucket upper edges at the end.
    val (df0, thresholdOf): (DataFrame, (String, Double) => Double) =
      params.maxBins match {
        case None => (input, (_, v) => v)
        case Some(k) =>
          // one wide agg fits every feature's quantile edges (fitMany);
          // per-feature fit would cost one full scan per feature
          val fitted = QuantileBinner.fitMany(input, features.map(_ -> k))
          val models = features.map(f => f -> fitted(f))
          // replace each feature with its bucket code; a split at code c
          // equals "value <= edges(c+1)" (right-closed buckets)
          val binned = models.foldLeft(input) { case (d, (f, m)) =>
            d.withColumn(f, m.expr)
          }
          val edgeMap = models.toMap
          (binned, (f, code) => edgeMap(f).edges(code.toInt + 1))
      }

    // labels and root counts in one aggregate over the label column; the
    // blocks are loaded by level 0's job
    val (labels, rootCounts) = labelCounts(df0, labelCol).unzip
    val parts = graft.SparkEntry.shufflePartitions(input.sparkSession)
    val blocks = load(
      df0.select(lit(0) +: col(labelCol).cast("long") +:
        features.map(col(_).cast("double")): _*),
      labels).persist(StorageLevel.MEMORY_AND_DISK)

    val nFeat = params.maxFeatures match {
      case None          => features.size
      case Some("sqrt")  => math.sqrt(features.size).toInt.max(1)
      case Some("log2")  => (math.log(features.size) / math.log(2)).toInt.max(1)
      case Some(k)       => k.toInt.min(features.size).max(1)
    }

    def sampleFeatures(nodeId: Int): Seq[String] =
      if (nFeat >= features.size) features
      else {
        val rng = new scala.util.Random(params.seed + nodeId)
        rng.shuffle(features.toList).take(nFeat)
      }

    def leafOf(counts: Seq[Long]): TreeLeaf = {
      val best = counts.zipWithIndex.maxBy { case (c, i) => (c, -i) }._2
      TreeLeaf(labels(best), counts.sum, counts)
    }

    // nodeId -> decided subtree piece
    val leaves = scala.collection.mutable.Map[Int, TreeLeaf]()
    val splits = scala.collection.mutable.Map[Int, (String, Double)]()
    var frontier: Map[Int, Seq[Long]] = Map(0 -> rootCounts)
    // each row's node id; a routed level is persisted, and the level before
    // it (`pendingPrev`) is released once the next search has read it
    var nodes: RDD[Array[Int]] = blocks.map(_.node)
    var pendingPrev: Option[RDD[Array[Int]]] = None

    for (depth <- 0 to params.maxDepth if frontier.nonEmpty) {
      // stopping rules (house_predict.py:325-334)
      val (stopNow, searchable) = frontier.partition { case (_, counts) =>
        depth >= params.maxDepth ||
          counts.sum < params.minSamplesSplit ||
          counts.count(_ > 0) <= 1
      }
      stopNow.foreach { case (id, c) => leaves(id) = leafOf(c) }

      if (searchable.nonEmpty) {
        // each node's sampled features, as indexes into `features`
        val featsByNode = searchable.keys
          .map(id => id -> sampleFeatures(id).map(features.indexOf).toArray).toMap
        val best = levelSplits(blocks, nodes, featsByNode, searchable,
          params.criterion, params.minSamplesLeaf, parts)
        pendingPrev.foreach(_.unpersist())
        pendingPrev = None

        var next = Map.empty[Int, Seq[Long]]
        val routed = scala.collection.mutable.ArrayBuffer[(Int, Int, Double)]()
        searchable.foreach { case (id, counts) =>
          // first feature in sampled order wins on strict gain improvement
          var bestGain = 0.0
          var chosen: Option[Candidate] = None
          featsByNode(id).foreach { j =>
            best.get((id, j)).foreach { c =>
              if (c.gain > bestGain) { bestGain = c.gain; chosen = Some(c) }
            }
          }
          chosen match {
            case None => leaves(id) = leafOf(counts)
            case Some(c) =>
              // the threshold is still in (possibly binned) training units
              splits(id) = (features(c.feat), c.threshold)
              routed += ((id, c.feat, c.threshold))
              next += (2 * id + 1) -> c.left
              next += (2 * id + 2) -> counts.zip(c.left).map { case (t, l) => t - l }
          }
        }

        if (routed.nonEmpty) {
          val table = routed.sortBy(_._1)
          val (ids, feats, thresholds) =
            (table.map(_._1).toArray, table.map(_._2).toArray, table.map(_._3).toArray)
          val prev = nodes
          // no action here: the next level's search routes the rows
          nodes = blocks.zipPartitions(prev)((bs, ns) =>
            Iterator.single(route(bs.next(), ns.next(), ids, feats, thresholds)))
            .persist(StorageLevel.MEMORY_AND_DISK)
          pendingPrev = Some(prev)
        }
        frontier = next
      } else {
        frontier = Map.empty
      }
    }
    blocks.unpersist()
    nodes.unpersist()
    pendingPrev.foreach(_.unpersist()) // loop may end before a next pass
    frontier.foreach { case (id, c) => leaves(id) = leafOf(c) } // safety

    def build(id: Int): TreeNode =
      splits.get(id) match {
        case Some((f, thr)) =>
          TreeSplit(f, thresholdOf(f, thr), build(2 * id + 1), build(2 * id + 2))
        case None => leaves(id)
      }
    TreeModel(build(0), features, labels, params)
  }

  // ---------------------------------------------------------------------
  // DuckDB replay of `fit`: the CTE-list fragments every tree oracle
  // composes after its own `WITH` and its base rows.
  //
  // DuckDB inlines a non-materialized CTE at each reference. A level
  // reads its winner table `b<l>` several times inside the routing CASE,
  // so inlining recomputes the whole upstream chain about 4^depth times
  // (observed: tree_path_counts over 6 min at sf0.01 against 1.7 s
  // materialized). Every SELECT CTE of the replay is therefore written
  // `AS MATERIALIZED (` where it is built; a regex rewrite after the
  // fact silently missed new shapes.
  // ---------------------------------------------------------------------

  /** Entropy gain of one binary split candidate from the cumulative
    * class counts in scope (`ln`, `lc0`, `lc1` left of the threshold;
    * `tn`, `tc0`, `tc1` over the node), in the operand order of
    * [[impurity]] and the gain in [[candidates]], so both engines
    * produce bit-identical doubles (`split_gains_discount` checks this).
    */
  val oracleGainSql: String =
    """(-(CASE WHEN tc0 > 0 THEN (tc0/tn)*log2(tc0/tn) ELSE 0.0 END
          + CASE WHEN tc1 > 0 THEN (tc1/tn)*log2(tc1/tn) ELSE 0.0 END))
       - (ln/tn) * (-(CASE WHEN lc0 > 0 THEN (lc0/ln)*log2(lc0/ln) ELSE 0.0 END
                      + CASE WHEN lc1 > 0 THEN (lc1/ln)*log2(lc1/ln) ELSE 0.0 END))
       - ((tn-ln)/tn) * (-(CASE WHEN tc0-lc0 > 0 THEN ((tc0-lc0)/(tn-ln))*log2((tc0-lc0)/(tn-ln)) ELSE 0.0 END
                           + CASE WHEN tc1-lc1 > 0 THEN ((tc1-lc1)/(tn-ln))*log2((tc1-lc1)/(tn-ln)) ELSE 0.0 END))"""

  /** Row alias `row`'s value of the feature that winner alias `win` splits on. */
  private def oracleSplitValue(row: String, win: String): String =
    s"(CASE $win.ford WHEN 0 THEN $row.f0 WHEN 1 THEN $row.f1" +
      s" WHEN 2 THEN $row.f2 ELSE $row.f3 END)"

  /** [[fit]] of an entropy tree of depth >= 1 that searches every
    * feature, on four features and a 0/1 label, given `src`: a FROM item
    * of weighted rows `(f0, f1, f2, f3, y, w)` (w = 1 per row, or a
    * count where the caller pre-aggregated). Appends `a0_<sfx>`, then
    * per level l the searchable nodes (stopping rules,
    * house_predict.py:325-334), the melted per-(node, feature, value)
    * counts, their cumulative sums, the gain of every candidate past the
    * lowest distinct value with `minSamplesLeaf` rows on each side, the
    * winner table `b<l>_<sfx>(node, ford, thr)` (gain > 0, then gain
    * desc, feature order, lowest threshold: the trainer's tie-breaks)
    * and the routed rows `a<l+1>_<sfx>` (a row of a split node goes to
    * 2·node+1 when its value is <= thr, else 2·node+2; other rows keep
    * their node, so heap ids are unique and the last node is the leaf);
    * then `leaf_<sfx>(node, pred)`, the majority label of each leaf
    * (ties go to 0). Binned trees pass bucket codes as features.
    */
  def oracleTrainCtes(src: String, sfx: String, params: TreeParams): String = {
    def level(l: Int): String = {
      val (a, next) = (s"a${l}_$sfx", s"a${l + 1}_$sfx")
      s"""sr${l}_$sfx AS MATERIALIZED (SELECT node FROM $a GROUP BY node
               HAVING SUM(w) >= ${params.minSamplesSplit}
                  AND SUM(y*w) > 0 AND SUM(w) - SUM(y*w) > 0),
      aj${l}_$sfx AS MATERIALIZED (
        SELECT a.* FROM $a a JOIN sr${l}_$sfx s ON a.node = s.node),
      m${l}_$sfx AS MATERIALIZED (
        SELECT node, 0 AS ford, f0 AS v, y, w FROM aj${l}_$sfx
        UNION ALL SELECT node, 1, f1, y, w FROM aj${l}_$sfx
        UNION ALL SELECT node, 2, f2, y, w FROM aj${l}_$sfx
        UNION ALL SELECT node, 3, f3, y, w FROM aj${l}_$sfx),
      g${l}_$sfx AS MATERIALIZED (SELECT node, ford, v,
                     CAST(SUM(w) AS BIGINT) AS n,
                     CAST(SUM(y*w) AS BIGINT) AS c1,
                     CAST(SUM(w) - SUM(y*w) AS BIGINT) AS c0
              FROM m${l}_$sfx GROUP BY node, ford, v),
      c${l}_$sfx AS MATERIALIZED (SELECT node, ford, v,
                     SUM(n)  OVER wc AS ln,  SUM(n)  OVER wa AS tn,
                     SUM(c0) OVER wc AS lc0, SUM(c0) OVER wa AS tc0,
                     SUM(c1) OVER wc AS lc1, SUM(c1) OVER wa AS tc1,
                     MIN(v)  OVER wa AS vmin
              FROM g${l}_$sfx
              WINDOW wc AS (PARTITION BY node, ford ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     wa AS (PARTITION BY node, ford)),
      s${l}_$sfx AS MATERIALIZED (SELECT node, ford, v, $oracleGainSql AS gain
              FROM c${l}_$sfx
              WHERE v > vmin AND ln >= ${params.minSamplesLeaf}
                AND tn - ln >= ${params.minSamplesLeaf}),
      b${l}_$sfx AS MATERIALIZED (SELECT node, ford, v AS thr
              FROM s${l}_$sfx WHERE gain > 0
              QUALIFY row_number() OVER (PARTITION BY node
                ORDER BY gain DESC, ford ASC, v ASC) = 1),
      $next AS MATERIALIZED (
        SELECT a.f0, a.f1, a.f2, a.f3, a.y, a.w,
               CASE WHEN win.node IS NULL THEN a.node
                    WHEN ${oracleSplitValue("a", "win")} <= win.thr THEN 2*a.node+1
                    ELSE 2*a.node+2 END AS node
        FROM $a a LEFT JOIN b${l}_$sfx win ON a.node = win.node)"""
    }
    s"""a0_$sfx AS MATERIALIZED (
        SELECT f0, f1, f2, f3, y, w, 0 AS node FROM $src),
      ${(0 until params.maxDepth).map(level).mkString(",\n      ")},
      leaf_$sfx AS MATERIALIZED (SELECT node,
               CASE WHEN SUM(y*w) > SUM(w) - SUM(y*w) THEN 1 ELSE 0 END AS pred
              FROM a${params.maxDepth}_$sfx GROUP BY node)"""
  }

  /** Sends the rows of `src` (a FROM item with columns f0..f3) through
    * the winner tables `b0_<sfx>..b<maxDepth-1>_<sfx>` of
    * [[oracleTrainCtes]]. Appends `route_<sfx>`: every column of `src`
    * plus `node_<sfx>`, the row's leaf, which joins `leaf_<sfx>`.
    */
  def oracleRouteCtes(src: String, sfx: String, params: TreeParams): String =
    (0 until params.maxDepth).map { l =>
      val name = if (l == params.maxDepth - 1) s"route_$sfx" else s"r${l + 1}_$sfx"
      val (from, cols, at) =
        if (l == 0) (src, "p.*", "0")
        else (s"r${l}_$sfx", s"p.* EXCLUDE (node_$sfx)", s"p.node_$sfx")
      s"""$name AS MATERIALIZED (
        SELECT $cols,
               CASE WHEN win.node IS NULL THEN $at
                    WHEN ${oracleSplitValue("p", "win")} <= win.thr THEN 2*$at+1
                    ELSE 2*$at+2 END AS node_$sfx
        FROM $from p LEFT JOIN b${l}_$sfx win ON win.node = $at)"""
    }.mkString(",\n      ")
}
