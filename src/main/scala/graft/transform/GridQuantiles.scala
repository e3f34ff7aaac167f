package graft.transform

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Exact quantiles over the DISTINCT-VALUE grid, per group — the
  * distributed replacement for Spark's exact `percentile` aggregate
  * (which merges every partition's value→count map in ONE reducer; see
  * [[QuantileBinner.fitMany]] for the sf10 measurement that motivated
  * this). Each group key becomes an int code and the groups are read by
  * [[ColumnGrid]]'s one job: values counted into sorted runs per map
  * task, shuffled per group, and each group's runs merged and streamed
  * once in its reduce task — bounded by the value DOMAIN, not the row
  * count.
  *
  * Rank semantics are `Percentile.getPercentile`'s, replayed in
  * [[ColumnGrid]]: position k = p·(n−1) over the group's non-null count,
  * bracketing ranks floor(k)/ceil(k) resolved against cumulative counts,
  * result = (ceil(k)−k)·v_lo + (k−floor(k))·v_hi with the integral-k and
  * equal-key short-circuits. Every operand is either an exact integer or
  * the same double on both engines, so the whole computation is
  * hash-replayable in SQL — the oracle mirrors the grid, not a built-in
  * whose interpolation order may differ by an ulp.
  */
object GridQuantiles {

  /** `kv`: rows (g, v) — group key and double value (nulls dropped).
    * `probs`: rows (g, i, p) — the target probabilities per group, `i`
    * an ordering index. Returns (g, i, p, q); a group without a non-null
    * value is absent.
    */
  def quantiles(kv: DataFrame, probs: DataFrame): DataFrame =
    quantilesFromCounts(kv.select(col("g"), col("v"), lit(1L).as("cnt")), probs)

  /** [[quantiles]] over an ALREADY-COUNTED grid — rows (g, v, cnt).
    * Callers that derive several statistics from one grid (madOutliers)
    * count once and reuse the frame, so the corpus is scanned exactly
    * once (guide §6).
    */
  def quantilesFromCounts(counts: DataFrame, probs: DataFrame): DataFrame = {
    val spark = counts.sparkSession
    val gField = probs.schema("g")
    val ps = probs.select(col("g"), col("i"), col("p").cast("double"))
      .collect().filterNot(_.isNullAt(0))
    val toInternal = CatalystTypeConverters.createToCatalystConverter(gField.dataType)
    val keys = ps.map(r => toInternal(r.get(0))).distinct
    val code = keys.zipWithIndex.toMap
    val probsOf = keys.map(k =>
      ps.filter(r => toInternal(r.get(0)) == k).map(_.getDouble(2)).distinct)
    val gType = gField.dataType
    val got = ColumnGrid.summarize(
      counts.select(col("g"), col("v").cast("double"), col("cnt").cast("long")),
      keys.length, Array.fill(keys.length)(ColumnGrid.NoScale), probsOf) { (r, t) =>
      if (!r.isNullAt(0) && !r.isNullAt(1))
        code.get(r.get(0, gType)).foreach(g => t(g).add(r.getDouble(1), r.getLong(2)))
    }
    val out = ps.flatMap { r =>
      got(code(toInternal(r.get(0)))).quantiles.get(r.getDouble(2))
        .map(q => Row(r.get(0), r.get(1), r.getDouble(2), q))
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), StructType(Seq(
      gField, probs.schema("i"), StructField("p", DoubleType),
      StructField("q", DoubleType))))
  }
}
