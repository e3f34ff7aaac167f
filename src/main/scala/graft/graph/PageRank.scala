package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative PageRank over an edge DataFrame, in integer micro-units.
  *
  * Ranks are `BIGINT` micro-units (1_000_000 = the 1.0 initial mass per
  * node) and every update is integer arithmetic — floor division for the
  * per-edge contribution (`r div out_degree`) and for the damping blend
  * (`(d * sum) div 100`) — so the result is bit-identical regardless of
  * partitioning, accumulation order, or engine. That makes a 5-iteration
  * run replayable as an unrolled SQL CTE chain in any ANSI engine, which
  * is how the driver's DuckDB oracle checks it.
  *
  * Scale notes: each iteration is one shuffle (contribution aggregation
  * by destination) plus a join of the edge list against the current rank
  * vector; the edge list and its out-degrees are materialized once up
  * front with `localCheckpoint` and reused every round, and each new rank
  * vector is checkpointed so lineage stays O(1) rather than O(iters) — on
  * a cluster the rank vector (one long per node) is dwarfed by the edges.
  * Dangling-node mass evaporates (the classic simplification); the oracle
  * mirrors that, so totals shrink slightly each round instead of being
  * renormalized.
  */
object PageRank {

  /** One million micro-units = rank 1.0 (the per-node initial mass). */
  val Micro: Long = 1000000L

  /** Unweighted PageRank: [[pageRankMicroWeighted]] over the distinct
    * `(src, dst)` pairs with unit weights, where `(r * 1) div W_src` is
    * `r div out_degree`.
    *
    * @param edges    directed edges; self-loops and duplicates are
    *                 removed, so callers can pass raw pair frames
    * @param src,dst  edge endpoint columns (any integral type)
    * @param iters    fixed iteration count (unrolled by the oracle)
    * @param dampingPct damping factor as an integer percent (85 = 0.85)
    * @return one row per node: (id: long, rank_micro: long)
    */
  def pageRankMicro(
      edges: DataFrame, src: String, dst: String,
      iters: Int, dampingPct: Int = 85): DataFrame =
    pageRankMicroWeighted(
      edges.select(col(src).as("src"), col(dst).as("dst")).distinct()
        .withColumn("w", lit(1L)),
      "src", "dst", "w", iters, dampingPct)

  /** Weighted PageRank, same integer micro-unit contract: each source
    * splits its rank over out-edges proportionally to integer edge
    * weights, `contrib = (r * w) div W_src` with `W_src` the source's
    * total out-weight. Parallel edges are first collapsed by summing
    * weights. `r * w` stays far under Long range for any realistic
    * graph (r <= nodes * 1e6; weights bounded by the caller).
    */
  def pageRankMicroWeighted(
      edges: DataFrame, src: String, dst: String, weight: String,
      iters: Int, dampingPct: Int = 85): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val e = edges
      .select(col(src).cast("long").as("src"), col(dst).cast("long").as("dst"),
        col(weight).cast("long").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst") && col("w") > 0)
      .groupBy("src", "dst").agg(sum("w").as("w"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint()
    val eDeg = e
      .join(e.groupBy("src").agg(sum("w").as("tw")), "src")
      .localCheckpoint()
    val base = (100L - dampingPct) * Micro / 100L
    var rank = nodes.select(col("id"), lit(Micro).as("r"))
    for (_ <- 1 to iters) {
      val contrib = eDeg
        .join(rank, eDeg("src") === rank("id"))
        .select(col("dst"), expr("(r * w) div tw").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      rank = nodes
        .join(contrib, nodes("id") === contrib("dst"), "left")
        .select(col("id"),
          expr(s"$base + ($dampingPct * coalesce(s, cast(0 as bigint))) div 100")
            .cast("long").as("r"))
        .localCheckpoint()
    }
    rank.select(col("id"), col("r").as("rank_micro"))
  }

  /** The DuckDB-replayable CTE chain for [[pageRankMicroWeighted]], given
    * a CTE `e(src, dst, w)` already in scope: weight-collapsed, one row
    * per directed pair, w > 0, no self-loops ([[pageRankMicro]]'s edges
    * with `1 AS w`). Appends `nodes`, `deg`, and `r0..r{iters}`; the
    * caller selects from `r{iters}(id, r)`.
    */
  def oracleCtesWeighted(iters: Int, dampingPct: Int = 85): String = {
    val base = (100L - dampingPct) * Micro / 100L
    val head =
      s"""nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
      deg AS MATERIALIZED (SELECT src, SUM(w) AS tw FROM e GROUP BY src),
      r0 AS (SELECT id, CAST($Micro AS BIGINT) AS r FROM nodes)"""
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.id,
            CAST($base + ($dampingPct * COALESCE(SUM((r${i - 1}.r * e.w) // d.tw), 0)) // 100
                 AS BIGINT) AS r
          FROM nodes n
          LEFT JOIN e ON e.dst = n.id
          LEFT JOIN deg d ON d.src = e.src
          LEFT JOIN r${i - 1} ON r${i - 1}.id = e.src
          GROUP BY n.id)"""
    }
    (head +: steps).mkString(",\n      ")
  }
}
