package graft.graph

import org.apache.spark.sql.DataFrame

/** k-core extraction: the maximal subgraph in which every vertex has
  * undirected degree >= k, computed by iterative peeling — each round
  * drops the vertices below k and the edges touching them (Matula & Beck
  * 1983). On the [[VertexLoop]], the vertices that die in a round tell
  * their neighbours; it stops at the fixpoint, capped at the oracle's
  * unroll of `peels` (converged extra rounds are no-ops).
  */
object KCore {

  val DefaultPeels = 12

  /** Surviving vertices of the k-core with their in-core degree:
    * (id, deg), deg >= k once converged.
    */
  def kCoreVertices(
      edges: DataFrame, src: String, dst: String, k: Int,
      peels: Int = DefaultPeels): DataFrame = {
    val e = VertexLoop.edgeFrame(edges, src, dst)
    // (alive, degree among the live vertices)
    val core = VertexLoop.run[(Boolean, Long), Long](e, undirected = true, peels)(
      VertexLoop.Program(
        init = (_, n) => (true, n.ids.length.toLong),
        send = (s, _, n) =>
          if (s._1 && s._2 < k) n.ids.iterator.map(_ -> 1L) else Iterator.empty,
        combine = _ + _,
        merge = { case ((alive, deg), m) => (alive && deg >= k, deg - m.getOrElse(0L)) }))
    edges.sparkSession.createDataFrame(core.collect {
      case (v, (true, deg)) if deg > 0 => (v, deg)
    }).toDF("id", "deg")
  }

  /** Unrolled SQL replay, given `raw(src, dst)` in scope; exposes
    * `core(id, deg)`.
    */
  def oracleCtes(k: Int, peels: Int = DefaultPeels): String = {
    val head =
      """a0 AS MATERIALIZED (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM raw WHERE src <> dst)"""
    val steps = (1 to peels).map { i =>
      s"""k$i AS (SELECT id FROM (
            SELECT id, COUNT(*) AS deg
            FROM (SELECT a AS id FROM a${i - 1}
                  UNION ALL SELECT b FROM a${i - 1})
            GROUP BY id) WHERE deg >= $k),
      a$i AS MATERIALIZED (
        SELECT e.a, e.b FROM a${i - 1} e
        WHERE EXISTS (SELECT 1 FROM k$i x WHERE x.id = e.a)
          AND EXISTS (SELECT 1 FROM k$i y WHERE y.id = e.b))"""
    }
    val core =
      s"""core AS (SELECT id, COUNT(*) AS deg
           FROM (SELECT a AS id FROM a$peels UNION ALL SELECT b FROM a$peels)
           GROUP BY id)"""
    (head +: steps :+ core).mkString(",\n      ")
  }
}
