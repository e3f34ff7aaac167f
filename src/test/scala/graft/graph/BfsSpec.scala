package graft.graph

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class BfsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def hops(edges: Seq[(Long, Long)], rounds: Int = 6): Map[Long, Int] =
    Bfs.hopsFromMin(edges.toDF("src", "dst"), "src", "dst", rounds)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("path graph: hops count edges from the minimum vertex") {
    val path = (1L to 5L).sliding(2).map(p => (p(0), p(1))).toSeq
    assert(hops(path) === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4))
  }

  test("edges are undirected; disconnected vertices are absent") {
    // 2 -> 1 still reaches 2 from source 1; the 8-9 island is unreached
    assert(hops(Seq((2L, 1L), (2L, 3L), (8L, 9L))) ===
      Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("shortest of multiple routes wins") {
    // 1-2-3-4 chain plus shortcut 1-4
    assert(hops(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))) ===
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 1))
  }

  test("converged extra rounds are no-ops (fixpoint inside the unroll)") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    assert(hops(edges, rounds = 3) === hops(edges, rounds = 6))
  }

  test("an empty edge set has no vertex, so no row") {
    assert(hops(Seq.empty) === Map.empty)
  }

  test("random edge shapes match a driver-side BFS up to the round cap") {
    GraphGen.check(Prop.forAllNoShrink(GraphGen.edges, Gen.choose(0, 8)) {
      (es, rounds) =>
        val got = Bfs.hopsFromMin(GraphGen.frame(spark, es), "src", "dst", rounds)
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        val expected = BfsSpec.reference(es, rounds)
        Prop(got == expected) :| s"$es rounds=$rounds\ngot      $got\nexpected $expected"
    })
  }

  test("each relaxation round is one Spark job") {
    def jobsForPath(n: Long): Int = jobsOf(Bfs.hopsFromMin(
      (1L until n).map(i => (i, i + 1)).toDF("src", "dst"), "src", "dst", 20))._1
    // a path 1-2-...-n takes n rounds: n - 1 carry the hop to vertex n,
    // one more sees no change
    assert(jobsForPath(8) - jobsForPath(4) == 8 - 4)
  }
}

object BfsSpec {

  /** Hops from the minimum vertex within `rounds`, by frontier expansion. */
  def reference(es: Seq[GraphGen.Edge], rounds: Int): Map[Long, Int] = {
    val adj = GraphGen.undirected(es)
    if (adj.isEmpty) return Map.empty
    var hops = Map(adj.keys.min -> 0)
    var frontier = hops.keySet
    for (h <- 1 to rounds) {
      frontier = frontier.flatMap(adj) -- hops.keySet
      hops ++= frontier.map(_ -> h)
    }
    hops
  }
}
