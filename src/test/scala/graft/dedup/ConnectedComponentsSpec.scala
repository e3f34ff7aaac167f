package graft.dedup

import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import graft.graph.GraphGen
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
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

  test("the edge read and every round run in one SQL execution") {
    val sc = spark.sparkContext
    val group = s"cc-execution-${java.util.UUID.randomUUID}"
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          starts.add(s.executionId.toString)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add(e.properties.getProperty("spark.sql.execution.id"))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "one execution")
    try {
      Dedup.connectedComponents((1L to 5L).map(i => (i, i + 1)).toDF("id_a", "id_b"))
      ListenerBusDrain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    // a path of 6 vertices takes 6 rounds, one job each
    assert(starts.size == 1)
    assert(jobs.asScala.toSeq == Seq.fill(6)(starts.peek))
  }

  test("labels equal a union-find over the edges with both endpoints set") {
    GraphGen.check(Prop.forAllNoShrink(GraphGen.edges) { es =>
      val got = rows(Dedup.connectedComponents(
        GraphGen.frame(spark, es).toDF("id_a", "id_b", "w")))
      val expected = unionFind(GraphGen.present(es).map(e => (e._1, e._2)))
      Prop(got == expected) :| s"$es\ngot      $got\nexpected $expected"
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
