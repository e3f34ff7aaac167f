package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.CutBucket

/** Exact GLOBAL row_number (plus optional running sums and grand totals)
  * without a global single-task sort — the scalable replacement for
  * `row_number().over(Window.orderBy(...))` over data-sized frames.
  *
  * Shape: assign every row a range BUCKET via a deterministic
  * value->bucket function (sampled quantile edges of the primary order
  * key, binary-searched by the codegen'd [[CutBucket]]), rank locally
  * with a window PARTITIONED by bucket (B parallel bounded sorts), and
  * lift local ranks to global ones by adding each bucket's exclusive
  * prefix count. The prefix frame is one row per bucket — bounded by a
  * config, not by data — and its prefix sums are computed by a tiny
  * explode+reaggregate (bucket i's totals contribute to every j > i), so
  * no unpartitioned window and no single-task sort appears anywhere.
  *
  * Correctness is UNCONDITIONAL on the edge sample: offsets come from
  * the REALIZED bucket counts, so ranks are exact for any edges — the
  * sampled quantiles only balance the bucket sizes. Because the bucket
  * is a pure function of the key value (not of physical partitioning),
  * the count branch and the rank branch agree by construction; nothing
  * depends on exchange reuse or on `spark_partition_id()` stability.
  * Rows with equal primary keys land in one bucket (CutBucket is a
  * function of the value), so tie runs stay contiguous and the caller's
  * tiebreak columns resolve them exactly as a global window would.
  *
  * The edge sample is a driver-side collect of <= `buckets` doubles —
  * the same bounded-collect class as the grid-edge fits in
  * [[graft.transform.Binning]].
  *
  * Requirements: `bucketKey` must be non-null, numeric (castable to
  * double) and ASCENDING-monotone with `order`'s primary direction
  * (negate it for a descending rank); long keys above 2^53 would lose
  * the monotone cast. `cums`/`totalSumCols` sources must be integral
  * (sums stay exact under reordering).
  */
object DistRank {

  /** Adds `rnCol` = exact global row_number over `order`, one inclusive
    * running sum per `cums` entry (src -> out), and — when requested —
    * broadcast 1-row grand totals: `totalCountCol` = total row count,
    * `totalSumCols` (src -> out) = full-frame sums. `buckets` defaults
    * to the session's shuffle-partition count.
    */
  def withRowNumber(
      df: DataFrame,
      bucketKey: Column,
      order: Seq[Column],
      cums: Seq[(String, String)] = Nil,
      rnCol: String = "rn",
      totalCountCol: Option[String] = None,
      totalSumCols: Seq[(String, String)] = Nil,
      buckets: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val b = (if (buckets > 0) buckets
             else graft.SparkEntry.shufflePartitions(spark))
      .max(2)
    val keyed = df.withColumn("__dr_k", bucketKey.cast("double"))
    // Edge wobble is harmless (see scaladoc): dedupe + sort and let skewed
    // samples collapse to fewer buckets rather than produce empty ranges.
    val inner = keyed.stat
      .approxQuantile("__dr_k", (1 until b).map(_.toDouble / b).toArray, 0.001)
      .distinct.sorted
    val edges = Double.NegativeInfinity +: inner.toSeq :+ Double.PositiveInfinity
    val nB = edges.length - 1
    val bucketed = keyed
      .withColumn("__dr_b", CutBucket.cutBucket(col("__dr_k"), edges))
      .drop("__dr_k")
    // Per-bucket count + sums for every column any caller output needs.
    val sumSrcs = (cums.map(_._1) ++ totalSumCols.map(_._1)).distinct
    val aggCols = count(lit(1)).as("__dr_c") +:
      sumSrcs.map(src => sum(col(src)).as(s"__dr_s_$src"))
    // Fail fast on null/NaN keys (CutBucket maps them to bucket -1,
    // which would inflate every offset while itself ranking from 0 —
    // silently corrupting ALL global ranks). The scaladoc contract is
    // enforced in-plan, per the repo's fail-fast-not-wrong convention —
    // but on the POST-aggregation frame: with -Inf/+Inf sentinel edges
    // the only negative bucket is the null/NaN sentinel -1, so a
    // `__dr_b = -1` row in the tiny per-bucket frame (<= nB+1 rows)
    // proves a bad key existed. Guarding `__dr_c` here (a column every
    // downstream branch — offsets AND totals — consumes) costs O(nB)
    // instead of the per-row when/raise_error wrapper that regressed
    // zorder_layout_orders 0.91 -> 3.13 s by breaking codegen on the
    // data-sized projection. The broadcast offset side is built before
    // any join probe, so the raise still precedes any emitted row.
    // The guard wraps EVERY per-bucket aggregate, not just the count:
    // Catalyst prunes unused aggregate outputs, so a caller that
    // consumes only cum/total SUM columns (never touching __dr_c)
    // would otherwise have the guarded column pruned away and bad keys
    // would silently corrupt those sums (ADVICE r12). With all derived
    // columns guarded, any consumer of ranks, running sums, or totals
    // must evaluate a guarded column; a caller that consumes only
    // passthrough columns reads no derived value at all, so there is
    // nothing to corrupt and the (pruned) guard is moot.
    val guardMsg = "DistRank: bucketKey must be non-null and non-NaN"
    val per = ("__dr_c" +: sumSrcs.map(s => s"__dr_s_$s"))
      .foldLeft(bucketed.groupBy("__dr_b").agg(aggCols.head, aggCols.tail: _*)) {
        (df, c) =>
          df.withColumn(c,
            when(col("__dr_b") < 0, raise_error(lit(guardMsg)))
              .otherwise(col(c)))
      }
    // Exclusive prefix per bucket: bucket i contributes to every j > i.
    // nB^2 tiny rows; no window, no collect. DELIBERATELY no filter on
    // the per-bucket frame: a predicate on __dr_b (a grouping-key
    // expression) can be pushed below the SOURCE aggregate by Catalyst,
    // and for merge-style grouping keys (session_window) the per-row
    // rewrite changes its meaning — observed as a silently-vanished
    // `__dr_b < nB-1` filter over a session frame (end-start became 0
    // per event), which let the last bucket self-contribute through a
    // DESCENDING sequence(start>stop). Generating every (src, dst) pair
    // and filtering ABOVE the explode is pushdown-proof: the predicate
    // references the generator output, which does not exist below it.
    val contrib = per
      .withColumnRenamed("__dr_b", "__dr_src")
      .select((explode(sequence(lit(0), lit(nB - 1))).as("__dr_b") +:
        col("__dr_src") +: col("__dr_c") +:
        cums.map { case (src, _) => col(s"__dr_s_$src") }): _*)
      .filter(col("__dr_b") > col("__dr_src"))
    val offAggs = sum("__dr_c").as("__dr_off_c") +:
      cums.map { case (src, _) => sum(s"__dr_s_$src").as(s"__dr_off_$src") }
    val offs = contrib.groupBy("__dr_b").agg(offAggs.head, offAggs.tail: _*)
    val w = Window.partitionBy("__dr_b").orderBy(order: _*)
    var out = bucketed.join(broadcast(offs), Seq("__dr_b"), "left")
      .withColumn(rnCol,
        row_number().over(w).cast("long") +
          coalesce(col("__dr_off_c"), lit(0L)))
    cums.foreach { case (src, outCol) =>
      out = out.withColumn(outCol,
        sum(col(src)).over(w.rowsBetween(Window.unboundedPreceding, 0)) +
          coalesce(col(s"__dr_off_$src"), lit(0L)))
    }
    if (totalCountCol.nonEmpty || totalSumCols.nonEmpty) {
      val tAggs = totalCountCol.map(n => sum("__dr_c").cast("long").as(n)).toSeq ++
        totalSumCols.map { case (src, n) => sum(s"__dr_s_$src").as(n) }
      out = out.crossJoin(broadcast(per.agg(tAggs.head, tAggs.tail: _*)))
    }
    out.drop(("__dr_b" +: "__dr_off_c" +:
      cums.map { case (src, _) => s"__dr_off_$src" }): _*)
  }
}
