package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, least, lit, min}

/** Breadth-first hop counts from the minimum-id vertex by min-propagation
  * on the [[VertexLoop]]: `h_{i+1}(v) = min(h_i(v), 1 + min over
  * neighbours h_i(u))`, to the fixpoint, capped at the oracle's unroll of
  * `rounds` (converged extra rounds are no-ops). Unreached vertices are
  * absent from the output.
  */
object Bfs {

  val DefaultRounds = 6

  /** (id, hop) for every vertex reachable from the minimum vertex id
    * within `rounds` hops, treating edges as undirected. An edge with a
    * null endpoint or a self-loop adds no vertex.
    */
  def hopsFromMin(
      edges: DataFrame, src: String, dst: String,
      rounds: Int = DefaultRounds): DataFrame = {
    val e = VertexLoop.edgeFrame(edges, src, dst)
    val source = e.agg(coalesce(min(least(col("src"), col("dst"))), lit(Long.MaxValue)))
      .head().getLong(0)
    val hops = VertexLoop.run[Long, Long](e, undirected = true, rounds)(
      VertexLoop.minProgram(v => if (v == source) 0L else Long.MaxValue, _ + 1))
    edges.sparkSession.createDataFrame(hops.collect {
      case (v, h) if h < Long.MaxValue => (v, h.toInt)
    }).toDF("id", "hop")
  }

  /** SQL replay, given `e(src, dst)` (directed, deduped, no loops) in
    * scope; symmetrizes internally and exposes `b{rounds}(id, hop)`.
    */
  def oracleCtes(rounds: Int = DefaultRounds): String = {
    val head =
      """u AS MATERIALIZED (
        SELECT src, dst FROM e
        UNION SELECT dst, src FROM e),
      b0 AS (SELECT (SELECT MIN(LEAST(src, dst)) FROM u) AS id, 0 AS hop)"""
    val steps = (1 to rounds).map { i =>
      s"""b$i AS (SELECT id, MIN(hop) AS hop FROM (
          SELECT id, hop FROM b${i - 1}
          UNION ALL
          SELECT u.dst AS id, b${i - 1}.hop + 1 AS hop
          FROM b${i - 1} JOIN u ON u.src = b${i - 1}.id)
        GROUP BY id)"""
    }
    (head +: steps).mkString(",\n      ")
  }
}
