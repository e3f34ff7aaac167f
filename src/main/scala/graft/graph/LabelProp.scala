package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Synchronous weighted label propagation (community detection).
  *
  * Every node starts in its own community (label = node id). Each
  * synchronous round, a node adopts the label carrying the largest total
  * incident edge weight among its neighbours, ties broken toward the
  * smallest label — the deterministic variant of Raghavan et al.'s LPA
  * (near-linear community detection). Mirrors the reference's "derive a
  * grouping from pairwise structure" analyses (`sol_2/data_analysis.ipynb`
  * cell 7, JSON L491 builds group-level summaries); the operator itself
  * is net-new surface.
  *
  * Runs on the [[VertexLoop]] to the fixpoint, capped at the oracle's
  * unroll of `iters`. Weights are exact integers and the argmax is (total
  * weight desc, label asc), so results are bit-identical across engines
  * and partitionings.
  */
object LabelProp {

  /** @param edges directed weighted edges; symmetrized and
    *              weight-collapsed here (parallel/reverse edges sum)
    * @param src,dst,weight edge columns (weight: positive integers)
    * @param iters round cap (the oracle's unroll)
    * @return one row per node: (id: long, community: long)
    */
  def propagate(
      edges: DataFrame, src: String, dst: String, weight: String,
      iters: Int): DataFrame = {
    require(iters >= 1)
    val e = VertexLoop.edgeFrame(edges, src, dst, col(weight))
    // messages: label -> total weight
    val labels = VertexLoop.run[Long, Map[Long, Long]](e, undirected = true, iters)(
      VertexLoop.Program(
        init = (v, _) => v,
        send = (lab, _, n) => n.iterator.map { case (u, w) => u -> Map(lab -> w) },
        combine = (a, b) => b.foldLeft(a) { case (c, (l, w)) => c.updated(l, c.getOrElse(l, 0L) + w) },
        merge = (lab, m) => m.fold(lab)(_.minBy { case (l, w) => (-w, l) }._1)))
    edges.sparkSession.createDataFrame(labels).toDF("id", "community")
  }

  /** Unrolled DuckDB CTE chain replaying [[propagate]] verbatim.
    * Expects a CTE `sym(s, d, w)` already symmetrized/weight-collapsed
    * (s <> d, w > 0); emits `l0..l$iters(id, lab)`.
    */
  def oracleCtes(iters: Int): String = {
    val head = "l0 AS (SELECT DISTINCT s AS id, s AS lab FROM sym)"
    val steps = (1 to iters).map { k =>
      s"""sc$k AS (
        SELECT sym.s AS id, l${k - 1}.lab AS nlab, SUM(sym.w) AS tw
        FROM sym JOIN l${k - 1} ON l${k - 1}.id = sym.d
        GROUP BY sym.s, l${k - 1}.lab),
      l$k AS (
        SELECT id, nlab AS lab FROM (
          SELECT id, nlab, row_number() OVER (
            PARTITION BY id ORDER BY tw DESC, nlab) AS rk
          FROM sc$k) WHERE rk = 1)"""
    }
    (head +: steps).mkString(",\n      ")
  }
}
