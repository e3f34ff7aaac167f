package graft.dedup

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** The RDD label propagation against a driver-side union-find on random
  * edge lists (empty graphs, paths longer than 40 rounds, duplicates,
  * self-loops, both orientations, negative ids), and against its
  * Catalyst form ([[ConnectedComponentsReference]]) wherever that form's
  * 40-round cap is not reached.
  */
class ConnectedComponentsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._
  import ConnectedComponentsSpec._

  private val genEdges: Gen[Seq[(Long, Long)]] = for {
    k <- Gen.choose(1, 60)
    lo <- Gen.choose(-40L, 20L)
    id = Gen.choose(lo, lo + k - 1)
    base <- Gen.frequency(
      1 -> Gen.const(Seq.empty[(Long, Long)]),
      2 -> Gen.long.map { seed =>
        val order = new scala.util.Random(seed).shuffle((lo until lo + k).toList)
        order.zip(order.drop(1))
      },
      7 -> Gen.choose(0, 120).flatMap(n => Gen.listOfN(n, Gen.zip(id, id))))
    dups <- Gen.someOf(base)
    flip <- Gen.listOfN(dups.size, Gen.oneOf(false, true))
    loops <- Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, id.map(v => (v, v))))
  } yield (base ++ dups.zip(flip).map {
    case ((a, b), f) => if (f) (b, a) else (a, b)
  } ++ loops).take(200)

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted

  private def check(prop: Prop): Unit = {
    val res = Test.check(
      Test.Parameters.default.withInitialSeed(Seed(20261017L))
        .withMinSuccessfulTests(30).withWorkers(1),
      prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("labels equal a union-find, and the Catalyst form below 40 rounds") {
    check(Prop.forAllNoShrink(genEdges) { edges =>
      val df = edges.toDF("id_a", "id_b")
      val got = rows(Dedup.connectedComponents(df))
      val expected = unionFind(edges)
      val matchesReference =
        diameter(edges) >= 40 ||
          rows(ConnectedComponentsReference.connectedComponents(df)) == got
      (Prop(got == expected) :| s"$edges\ngot      $got\nexpected $expected") &&
        (Prop(matchesReference) :| s"$edges\nreference differs from $got")
    })
  }
}

object ConnectedComponentsSpec {

  /** (vertex, min vertex id of its component), sorted by vertex. */
  def unionFind(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(v: Long): Long = {
      val p = parent.getOrElseUpdate(v, v)
      if (p == v) v else { val r = find(p); parent(v) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // the smaller root wins, so every root is its component's min id
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(v => v -> find(v)).sorted
  }

  /** Longest shortest path between two connected vertices (0 if none). */
  def diameter(edges: Seq[(Long, Long)]): Int = {
    val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    adj.keys.map { src =>
      val seen = scala.collection.mutable.Set(src)
      var frontier = Seq(src)
      var depth = -1
      while (frontier.nonEmpty) {
        depth += 1
        frontier = frontier.flatMap(adj).distinct.filter(seen.add)
      }
      depth
    }.foldLeft(0)(_ max _)
  }
}
