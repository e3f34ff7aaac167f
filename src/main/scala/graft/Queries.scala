package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One registered engine query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query
  * over the same tables. Column names MUST match between the two — the
  * driver sorts columns by name before hashing values.
  *
  * A replay that several oracles share is defined once, next to the
  * operator it replays, as a CTE-list fragment the oracle composes after
  * its own `WITH` (`PageRank.oracleCtesWeighted`, `Dedup.oracleMinhashCtes`,
  * `Dedup.oracleComponentsCtes`, `Similarity.oracleBandedCtes`,
  * `DecisionTree.oracleTrainCtes`, ...),
  * so a fix to a replay lands in one place.
  *
  * Harness contract: runners (Bench, Verify, tests) call
  * `spark.catalog.clearCache()` between queries. A query MAY therefore
  * `persist()` an intermediate frame without unpersisting it (e.g.
  * `hll_distinct_shingles` / `hll_shingles_slice` cache their tiny
  * distinct-shingle frames, whose recompute is the full corpus explode)
  * — a runner that omits clearCache leaks those frames for the session.
  */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

trait QueryPack { def queries: Seq[GraftQuery] }

/** Cross-engine determinism helpers.
  *
  * Money/ratio columns in the test data are exact to 2 decimals, so all
  * large aggregations go through integer "cents" (exact in both Spark and
  * DuckDB regardless of partitioning / accumulation order). Doubles that
  * must appear in oracle-checked output are rounded after arithmetic whose
  * operands are bit-identical in both engines.
  */
object Q {
  /** Exact integer cents from a 2-decimal double column. `x*100` and
    * `round` are computed on identical doubles in both engines.
    */
  def cents(c: Column): Column = round(c * 100).cast("long")
  def cents(name: String): Column = cents(col(name))

  /** Half-away-from-zero decimal rounding, bit-identical to DuckDB's
    * `round(x, d)` for identical input doubles (round-8 revalidation:
    * 900k adversarial values — log-uniform magnitudes 1e-3..1e18, the
    * formerly-Long-clamped band above 9.2e12, the [2^52, 2^53)
    * half-even band, and exact (n+0.5)/1e6 ties — 0 mismatches).
    * Spark's own `round` uses BigDecimal-on-shortest-repr semantics
    * which disagrees on ties.
    *
    * Past |x|·scale ≥ 2^52 every double is already integral, so
    * DuckDB's `round(x*p)/p` reduces to `(x*p)/p` — the guard replays
    * exactly that (Spark's `floor` would otherwise clamp at Long range,
    * and `+0.5` would half-even-bump odd integers in [2^52, 2^53)).
    */
  def rd(c: Column, scale: Double): Column = {
    val p = abs(c) * scale
    when(p >= 4503599627370496.0, p / scale * signum(c) + 0.0)
      .otherwise(floor(p + 0.5) / scale * signum(c) + 0.0)
  }

  /** round(x, 6) with DuckDB semantics. */
  def r6(c: Column): Column = rd(c, 1e6)

  /** round(x, 4) with DuckDB semantics. */
  def r4(c: Column): Column = rd(c, 1e4)

  /** Driver-side scalar version of r6 (same large-magnitude guard). */
  def r6Double(x: Double): Double = {
    val p = math.abs(x) * 1e6
    if (p >= 4503599627370496.0) p / 1e6 * math.signum(x) + 0.0
    else math.floor(p + 0.5) / 1e6 * math.signum(x) + 0.0
  }

  /** Driver-side scalar version of r4 (same large-magnitude guard; NaN
    * propagates exactly as the Column form does — the comparison is
    * false and floor(NaN) is NaN).
    */
  def r4Double(x: Double): Double = {
    val p = math.abs(x) * 1e4
    if (p >= 4503599627370496.0) p / 1e4 * math.signum(x) + 0.0
    else math.floor(p + 0.5) / 1e4 * math.signum(x) + 0.0
  }

  /** Deterministic share-of-group: exact integer counts divided once. */
  def share(pred: Column): Column =
    r6(sum(when(pred, 1L).otherwise(0L)) * 1.0 / count(lit(1)))

  def ts(s: String): Column = to_timestamp(lit(s))
}
