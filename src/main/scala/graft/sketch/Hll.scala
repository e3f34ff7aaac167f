package graft.sketch

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HyperLogLog distinct-count sketch (Flajolet et al. 2007), built from
  * plain aggregations so it shuffles one row per (group, register) — the
  * mergeable scale path beyond `LinearCount`'s bitmap.
  *
  * Cross-engine determinism: the 60-bit md5 base hash splits into an
  * 8-bit register index (m = 256) and a 52-bit tail whose leading-zero
  * rank is computed via `length(bin(v))` — identical in Spark and DuckDB.
  * The indicator sum `Σ 2^-M[j]` adds dyadic rationals ≥ 2^-53 whose
  * exact sum needs < 64 mantissa bits, so it is EXACT in double no matter
  * the accumulation order; the final estimate is then one scalar double
  * expression on identical operands in both engines.
  *
  * Registers are a first-class frame (one row per group x occupied
  * register), so sketches merge across shards/groups with a plain
  * `groupBy(reg).agg(max(rho))` — the same motion a 1000-executor
  * pre-aggregation does.
  */
object Hll {

  /** Register count m = 256 (b = 8 index bits). */
  val M = 256

  /** alpha_256 bias correction (valid for m >= 128). */
  val Alpha: Double = 0.7213 / (1.0 + 1.079 / M)

  /** Max rho: 52 tail bits all zero -> 53. */
  private val MaxRho = 53

  /** Per-group occupied registers: (groups..., reg, rho) with
    * rho = max over values of (leading-zeros-of-tail + 1).
    */
  def registers(df: DataFrame, value: Column, groups: Seq[Column]): DataFrame = {
    val h = graft.dedup.Dedup.md5Bits60(value)
    val withHash = df.select(groups :+ h.as("__h"): _*)
    val names = withHash.columns.dropRight(1)
    withHash
      .withColumn("reg", (col("__h") % M).cast("int"))
      .withColumn("__v", shiftrightunsigned(col("__h"), 8))
      .withColumn("rho",
        when(col("__v") === 0L, lit(MaxRho))
          .otherwise(lit(MaxRho) - length(bin(col("__v")))).cast("int"))
      .groupBy((names :+ "reg").map(col): _*)
      .agg(max("rho").as("rho"))
  }

  /** Estimate per group from a register frame (as produced by
    * `registers`, or by max-merging several of them): raw HLL with the
    * standard small-range linear-counting correction when E <= 2.5m and
    * empty registers remain. Output column `est_hll` is the raw double;
    * callers round for display.
    */
  def estimate(regs: DataFrame, groups: Seq[String]): DataFrame = {
    val agged = regs
      .groupBy(groups.map(col): _*)
      .agg(
        sum(expr("1.0 / cast(shiftleft(cast(1 as bigint), rho) as double)"))
          .as("__s_occ"),
        count(lit(1)).as("__n_occ"))
    val zeros = (lit(M) - col("__n_occ")).cast("long")
    // coalesce: a global (no-group) aggregate over zero rows yields a
    // null sum; an empty sketch must estimate 0, not null
    val sInv = coalesce(col("__s_occ"), lit(0.0)) + zeros.cast("double")
    val raw = lit(Alpha) * lit(M.toDouble * M) / sInv
    agged.select(
      groups.map(col) ++ Seq(
        zeros.as("zero_registers"),
        when(raw <= lit(2.5 * M) && zeros > 0,
          lit(M.toDouble) * log(lit(M.toDouble) / zeros.cast("double")))
          .otherwise(raw).as("est_hll")): _*)
  }

  /** Streaming register build: HLL registers maintained by a streaming
    * `groupBy(reg).max(rho)` in complete mode — at most m rows of state
    * no matter how many events arrive, the canonical bounded-state
    * cardinality pattern. Returns the drained register table (columns
    * reg, rho) ready for `estimate`.
    */
  def streamingRegisters(
      stream: DataFrame, value: Column, sourcePath: String): DataFrame = {
    val h = graft.dedup.Dedup.md5Bits60(value)
    val registers = stream
      .select(h.as("__h"))
      .select(
        (col("__h") % M).cast("int").as("reg"),
        when(shiftrightunsigned(col("__h"), 8) === 0L, lit(MaxRho))
          .otherwise(lit(MaxRho) -
            length(bin(shiftrightunsigned(col("__h"), 8)))).cast("int")
          .as("rho0"))
      .groupBy("reg").agg(max("rho0").as("rho"))
    graft.streaming.Streams.drain(registers, "complete", sourcePath)
  }

  /** The same estimate as a SQL expression over an aggregated
    * (s_occ, n_occ) pair — for the DuckDB oracle. `alphaLit` embeds the
    * exact Scala double so both engines blend identical operands.
    */
  def estimateSql(sOcc: String, nOcc: String): String = {
    // every literal cast to DOUBLE: DuckDB types bare decimals as
    // DECIMAL and the products overflow DECIMAL(18)
    val a = s"CAST(${java.lang.Double.toString(Alpha)} AS DOUBLE)"
    val m = s"CAST($M AS DOUBLE)"
    val raw = s"($a * $m * $m / ($sOcc + ($M - $nOcc)))"
    s"""CASE WHEN $raw <= CAST(${2.5 * M} AS DOUBLE) AND ($M - $nOcc) > 0
        THEN $m * ln($m / ($M - $nOcc))
        ELSE $raw END"""
  }
}
