package graft.graph

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class KCoreSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def core(edges: Seq[(Long, Long)], k: Int, peels: Int = 12) =
    KCore.kCoreVertices(edges.toDF("src", "dst"), "src", "dst", k, peels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("triangle with a pendant: 2-core drops the pendant only") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    assert(core(e, 2) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("path graph peels completely for k = 2 (cascading removal)") {
    val path = (1L to 10L).sliding(2).map(p => (p(0), p(1))).toSeq
    assert(core(path, 2) === Map.empty)
  }

  test("K5 survives k = 4 intact") {
    val k5 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    assert(core(k5, 4) === (1L to 5L).map(_ -> 4L).toMap)
  }

  test("harness trade graphs reach the fixpoint inside the 12 peels") {
    for (sf <- Seq("0.001", "0.01")) {
      val li = spark.read.parquet(s"/root/testdata/sf$sf/lineitem.parquet")
        .select("l_orderkey", "l_suppkey")
      val ord = spark.read.parquet(s"/root/testdata/sf$sf/orders.parquet")
        .select("o_orderkey", "o_custkey")
      val cust = spark.read.parquet(s"/root/testdata/sf$sf/customer.parquet")
      val supp = spark.read.parquet(s"/root/testdata/sf$sf/supplier.parquet")
      import org.apache.spark.sql.functions._
      val pairW = li
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(supp, li("l_suppkey") === supp("s_suppkey"))
        .filter(col("c_nationkey") =!= col("s_nationkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
      val tot = pairW.agg(sum("w").as("tw"), count(lit(1)).as("np"))
      val strong = pairW.crossJoin(tot)
        .filter(col("w") * col("np") > col("tw")).select("src", "dst")
      val at11 = KCore.kCoreVertices(strong, "src", "dst", 8, peels = 11)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val at12 = KCore.kCoreVertices(strong, "src", "dst", 8, peels = 12)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(at11 === at12, s"sf$sf not converged by peel 11")
    }
  }

  test("random edge shapes match driver-side edge peeling up to the peel cap") {
    GraphGen.check(Prop.forAllNoShrink(
        GraphGen.edges, Gen.choose(0, 3), Gen.choose(0, 12)) { (es, k, peels) =>
      val got = KCore.kCoreVertices(GraphGen.frame(spark, es), "src", "dst", k, peels)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = KCoreSpec.reference(es, k, peels)
      Prop(got == expected) :| s"$es k=$k peels=$peels\ngot      $got\nexpected $expected"
    })
  }

  test("each peel is one Spark job") {
    def jobsForPath(n: Long): Int = jobsOf(KCore.kCoreVertices(
      (1L until n).map(i => (i, i + 1)).toDF("src", "dst"), "src", "dst", 2, 20))._1
    // a path of n (even) vertices loses both ends each round, n / 2
    // rounds; one more sees no change
    assert(jobsForPath(8) - jobsForPath(4) == 8 / 2 - 4 / 2)
  }
}

object KCoreSpec {

  /** The oracle's unroll on the driver: `peels` times, drop the edges
    * touching a vertex of degree < k; then each vertex's degree.
    */
  def reference(es: Seq[GraphGen.Edge], k: Int, peels: Int): Map[Long, Long] = {
    var e = GraphGen.present(es).filter(x => x._1 != x._2)
      .map(x => (x._1 min x._2, x._1 max x._2)).distinct
    def deg = e.flatMap(x => Seq(x._1, x._2)).groupMapReduce(identity)(_ => 1L)(_ + _)
    for (_ <- 1 to peels) {
      val keep = deg.filter(_._2 >= k).keySet
      e = e.filter(x => keep(x._1) && keep(x._2))
    }
    deg
  }
}
