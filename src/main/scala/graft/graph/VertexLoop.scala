package graft.graph

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, lit}

/** The one executor of iterative graph programs, in Pregel's vertex-program
  * shape: connected components, BFS, k-core, label propagation and PageRank
  * are each a [[VertexLoop.Program]]. The adjacency is built once,
  * hash-partitioned on the vertex and checkpointed; the states live in an
  * RDD co-partitioned with it. A round is ONE Spark job: a narrow
  * `zipPartitions` sends, one `reduceByKey` combines, a narrow merge applies,
  * and the checkpointed round's action counts the changed states. The loop
  * stops when none changed (exact: a round is a deterministic function of
  * the states and of which changed) or at the round cap. Integer states make
  * the combine order irrelevant.
  */
object VertexLoop {

  /** A vertex's out-neighbours `ids` and its summed edge weights `ws` to them:
    * primitive arrays, which Spark's size estimate reads in O(1), not pair by pair. */
  final case class Nbrs(ids: Array[Long], ws: Array[Long]) {
    def iterator: Iterator[(Long, Long)] = ids.iterator.zip(ws.iterator)
  }

  /** `init` gives a vertex's state before round 1; `send` the messages
    * `(to, m)` of a vertex from its state, whether that changed in the
    * previous round (true in round 1) and its neighbours; `combine` merges
    * two messages to one vertex; `merge` gives its next state from its
    * state and its combined messages, if any reached it.
    */
  final case class Program[S, M](
      init: (Long, Nbrs) => S,
      send: (S, Boolean, Nbrs) => Iterator[(Long, M)],
      combine: (M, M) => M,
      merge: (S, Option[M]) => S)

  /** Min-propagation of `step(state)` from the vertices whose state
    * changed (exact: an unchanged state has already been sent); a state of
    * `Long.MaxValue` sends nothing.
    */
  def minProgram(init: Long => Long, step: Long => Long): Program[Long, Long] = Program(
    init = (v, _) => init(v),
    send = (s, changed, n) =>
      if (changed && s < Long.MaxValue) n.ids.iterator.map(_ -> step(s)) else Iterator.empty,
    combine = math.min,
    merge = (s, m) => m.fold(s)(math.min(s, _)))

  /** `edges` as the loop's `(src, dst, w)` frame: long endpoints, both
    * set, no self-loop, and weight `w > 0`.
    */
  def edgeFrame(edges: DataFrame, src: String, dst: String, w: Column = lit(1L)): DataFrame =
    edges.select(col(src).cast("long").as("src"), col(dst).cast("long").as("dst"),
        w.cast("long").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst") && col("w") > 0)

  /** Each vertex's state after running `program` over `edges(src, dst,
    * w)` (longs, no nulls) for at most `rounds` rounds. An edge is an
    * out-edge of `src`, and of `dst` too if `undirected`; parallel edges
    * sum their weights; a vertex that only receives edges has none. The
    * edge read and every round run as one SQL execution.
    */
  def run[S: ClassTag, M: ClassTag](
      edges: DataFrame, undirected: Boolean, rounds: Int)(p: Program[S, M]): RDD[(Long, S)] = {
    val parts = new HashPartitioner(graft.SparkEntry.shufflePartitions(edges.sparkSession))
    val qe = edges.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("vertex loop")) {
      val adj = qe.toRdd
        .mapPartitions { rows =>
          // `(to, w)` pairs interleaved: one shuffled record per vertex and partition
          val ends = mutable.LongMap.empty[mutable.ArrayBuilder.ofLong]
          def at(v: Long) = ends.getOrElseUpdate(v, new mutable.ArrayBuilder.ofLong)
          rows.foreach { r =>
            val (a, b, w) = (r.getLong(0), r.getLong(1), r.getLong(2))
            at(a).addOne(b).addOne(w)
            if (undirected) at(b).addOne(a).addOne(w) else at(b) // a vertex that only receives
          }
          ends.iterator.map { case (v, es) => v -> es.result() }
        }
        .groupByKey(parts)
        .mapValues { ess =>
          val sum = mutable.LongMap.empty[Long]
          for (es <- ess; i <- es.indices by 2) sum(es(i)) = sum.getOrElse(es(i), 0L) + es(i + 1)
          Nbrs(sum.keys.toArray, sum.values.toArray)
        }
        .localCheckpoint()
      // (vertex, (state, changed last round)), in adj's stored order
      var states: RDD[(Long, (S, Boolean))] = adj.mapPartitions(
        _.map { case (v, n) => (v, (p.init(v, n), true)) },
        preservesPartitioning = true)
      var (round, changed) = (0, 1L)
      while (changed > 0 && round < rounds) {
        val msgs = adj.zipPartitions(states) { (a, s) =>
          a.zip(s).flatMap { case ((_, n), (_, (st, chg))) => p.send(st, chg, n) }
        }.reduceByKey(parts, p.combine)
        val next = states.zipPartitions(msgs, preservesPartitioning = true) { (s, m) =>
          val got = m.toMap
          s.map { case (v, (st, _)) =>
            val st2 = p.merge(st, got.get(v))
            (v, (st2, st2 != st))
          }
        }.localCheckpoint()
        changed = next.filter(_._2._2).count() // the round's one job
        states.unpersist() // superseded round: don't pin its blocks
        states = next
        round += 1
      }
      if (round > 0) adj.unpersist() // else the states still read it
      states.mapValues(_._1)
    }
  }
}
