package graft.graph

import org.apache.spark.sql.Row
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class PageRankSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    PageRank.pageRankMicro(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect().map { case Row(id: Long, r: Long) => id -> r }.toMap

  test("two-node chain matches hand-computed fixed-point arithmetic") {
    // 1 -> 2. iter1: r1 = 150000; r2 = 150000 + 85*1000000 div 100 = 1000000
    // iter2: r1 = 150000; r2 = 150000 + 85*150000 div 100 = 277500
    val r = ranks(Seq((1L, 2L)), 2)
    assert(r === Map(1L -> 150000L, 2L -> 277500L))
  }

  test("star graph concentrates rank on the hub") {
    val edges = (2L to 6L).map(i => (i, 1L))
    val r = ranks(edges, 5)
    assert(r(1L) > r(2L) * 3)
    assert((2L to 6L).map(r).toSet.size === 1) // leaves identical by symmetry
  }

  test("self-loops and duplicate edges are ignored") {
    val r1 = ranks(Seq((1L, 2L), (2L, 1L)), 3)
    val r2 = ranks(Seq((1L, 2L), (1L, 2L), (2L, 1L), (1L, 1L)), 3)
    assert(r1 === r2)
    // symmetric 2-cycle: both nodes keep identical rank
    assert(r1(1L) === r1(2L))
  }

  test("weighted: all mass to one edge matches the unweighted 2-chain") {
    import org.apache.spark.sql.functions.col
    // node 1 sends 99% of its weight to 2, 1% to 3
    val e = Seq((1L, 2L, 99L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val r = PageRank.pageRankMicroWeighted(e, "src", "dst", "w", 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // contrib to 2: (1e6 * 99) div 100 = 990000; r2 = 150000 + 85%*990000
    assert(r(2L) === 150000L + 85L * 990000L / 100L)
    assert(r(3L) === 150000L + 85L * 10000L / 100L)
    // equal weights reduce to the unweighted split
    val eq = Seq((1L, 2L, 7L), (1L, 3L, 7L)).toDF("src", "dst", "w")
    val rw = PageRank.pageRankMicroWeighted(eq, "src", "dst", "w", 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val ru = PageRank.pageRankMicro(
      Seq((1L, 2L), (1L, 3L)).toDF("src", "dst"), "src", "dst", 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(rw === ru)
    // parallel edges collapse by weight sum
    val par = Seq((1L, 2L, 50L), (1L, 2L, 49L), (1L, 3L, 1L))
      .toDF("src", "dst", "w")
    val rp = PageRank.pageRankMicroWeighted(par, "src", "dst", "w", 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(rp === r)
  }

  test("deterministic across repartitionings") {
    val edges = for (i <- 1L to 40L) yield (i, i % 7 + 1L)
    val df = edges.toDF("src", "dst")
    val a = PageRank.pageRankMicro(df.repartition(13), "src", "dst", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = PageRank.pageRankMicro(df.coalesce(1), "src", "dst", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b)
  }

  test("random edge shapes match driver-side integer rounds, weighted and not") {
    GraphGen.check(Prop.forAllNoShrink(
        GraphGen.edges, Gen.choose(1, 6), Gen.oneOf(0, 50, 85, 100)) { (es, iters, d) =>
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val df = GraphGen.frame(spark, es)
      val weighted = rows(PageRank.pageRankMicroWeighted(df, "src", "dst", "w", iters, d))
      val unit = rows(PageRank.pageRankMicro(df, "src", "dst", iters, d))
      val present = GraphGen.present(es)
      val expW = PageRankSpec.reference(present, iters, d)
      val expU = PageRankSpec.reference(present.map(e => (e._1, e._2, 1L)).distinct, iters, d)
      (Prop(weighted == expW) :| s"$es iters=$iters d=$d\nweighted $weighted\nexpected $expW") &&
        (Prop(unit == expU) :| s"$es iters=$iters d=$d\nunit     $unit\nexpected $expU")
    })
  }

  test("each iteration is one Spark job, up to the fixpoint") {
    // ranks on this graph keep moving until iteration 30; the 31st
    // changes none
    def jobs(iters: Int): Int = jobsOf(PageRank.pageRankMicro(
      Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L)).toDF("src", "dst"),
      "src", "dst", iters))._1
    assert(jobs(5) - jobs(3) == 5 - 3)
    assert(jobs(40) - jobs(5) == 31 - 5)
  }
}

object PageRankSpec {

  /** `iters` integer rounds over the weight-collapsed positive edges. */
  def reference(es: Seq[(Long, Long, Long)], iters: Int, d: Int): Map[Long, Long] = {
    val e = es.filter(x => x._1 != x._2 && x._3 > 0)
      .groupMapReduce(x => (x._1, x._2))(_._3)(_ + _)
    val tw = e.groupMapReduce(_._1._1)(_._2)(_ + _)
    val base = (100L - d) * PageRank.Micro / 100L
    var r = e.keys.flatMap(p => Seq(p._1, p._2)).map(_ -> PageRank.Micro).toMap
    for (_ <- 1 to iters) {
      val s = e.toSeq.groupMapReduce(_._1._2) { case ((a, _), w) => r(a) * w / tw(a) }(_ + _)
      r = r.map { case (v, _) => v -> (base + d * s.getOrElse(v, 0L) / 100L) }
    }
    r
  }
}
