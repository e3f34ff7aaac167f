package graft.transform

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact quantiles over the DISTINCT-VALUE grid, per group — the
  * distributed replacement for Spark's exact `percentile` aggregate
  * (which merges every partition's value→count map in ONE reducer; see
  * [[QuantileBinner.fitMany]] for the sf10 measurement that motivated
  * this). The heavy work — counting occurrences per (group, value) —
  * is a hash aggregation with map-side combine; the only single-task
  * step is the cumulative window over each group's grid, bounded by the
  * value DOMAIN, not the row count.
  *
  * Rank semantics replay `Percentile.getPercentile`
  * operand-for-operand: position k = p·(n−1) over the group's non-null
  * count, bracketing ranks floor(k)/ceil(k) resolved against cumulative
  * counts, result = (ceil(k)−k)·v_lo + (k−floor(k))·v_hi with the
  * integral-k and equal-key short-circuits. Every operand is either an
  * exact integer or the same double on both engines, so the whole
  * computation is hash-replayable in SQL — the oracle mirrors the grid,
  * not a built-in whose interpolation order may differ by an ulp.
  */
object GridQuantiles {

  /** `kv`: rows (g, v) — group key and double value (nulls dropped).
    * `probs`: rows (g, i, p) — the target probabilities per group, `i`
    * an ordering index. Returns (g, i, q).
    */
  def quantiles(kv: DataFrame, probs: DataFrame): DataFrame =
    quantilesFromCounts(
      kv.filter(col("v").isNotNull)
        .groupBy("g", "v").agg(count(lit(1)).as("cnt")),
      probs)

  /** The interpolation tail of [[quantiles]] over an ALREADY-COUNTED
    * grid — rows (g, v, cnt) with non-null v. Callers that derive
    * several statistics from one grid ([[ColumnGrid]], madOutliers)
    * count once and reuse the frame, so the corpus is scanned exactly
    * once (guide §6).
    */
  def quantilesFromCounts(counts: DataFrame, probs: DataFrame): DataFrame = {
    val cum = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // per-group total as a broadcast join of a tiny parallel aggregate,
    // NOT an entire-partition window: the unordered window was a second
    // WindowExec buffering each group's whole grid in its single task
    // (r17: 1.5 s of profile_lineitem's probe was exactly this). The
    // long-sum total is bit-identical either way.
    val totals = counts.groupBy("g").agg(sum("cnt").as("n"))
    val grid = counts
      .select(col("g"), col("v"), col("cnt"),
        (sum("cnt").over(cum) - col("cnt")).as("cb"))
      .join(broadcast(totals), Seq("g"))
    val coversLo = col("lo").between(col("cb"), col("cb") + col("cnt") - 1)
    val coversHi = col("hi").between(col("cb"), col("cb") + col("cnt") - 1)
    probs.join(grid, Seq("g"))
      .withColumn("k", col("p") * (col("n") - 1).cast("double"))
      .withColumn("lo", floor(col("k")))
      .withColumn("hi", ceil(col("k")))
      .filter(coversLo || coversHi)
      .groupBy("g", "i", "p", "k")
      .agg(max(when(coversLo, col("v"))).as("vlo"),
        max(when(coversHi, col("v"))).as("vhi"))
      .select(col("g"), col("i"), col("p"),
        when(floor(col("k")) === ceil(col("k")), col("vlo"))
          .when(col("vlo") === col("vhi"), col("vlo"))
          .otherwise((ceil(col("k")) - col("k")) * col("vlo") +
            (col("k") - floor(col("k"))) * col("vhi")).as("q"))
  }
}
