package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.Assertions._

/** Random small edge lists `(src, dst, w)` for the graph specs'
  * properties: empty, self-loops only, long paths (past every round cap),
  * the two-node label swap, two components plus an isolated pair, and
  * random graphs; each mixed with parallel and reverse duplicates,
  * self-loops, null endpoints and zero or negative weights.
  */
object GraphGen {

  type Edge = (Option[Long], Option[Long], Long)

  private val weight: Gen[Long] =
    Gen.frequency(1 -> Gen.const(0L), 1 -> Gen.choose(-3L, -1L), 6 -> Gen.choose(1L, 5L))

  private def random(lo: Long, k: Int): Gen[Seq[(Long, Long)]] = {
    val id = Gen.choose(lo, lo + k - 1)
    Gen.choose(0, 3 * k).flatMap(n => Gen.listOfN(n, Gen.zip(id, id)))
  }

  private val shape: Gen[Seq[(Long, Long)]] = Gen.frequency(
    1 -> Gen.const(Seq.empty),
    1 -> Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, Gen.choose(-3L, 5L).map(v => (v, v)))),
    2 -> Gen.choose(2, 30).map(n => (0L until n).map(i => (i, i + 1))),
    1 -> Gen.const(Seq((1L, 2L))),
    2 -> (for { a <- random(-5L, 6); b <- random(10L, 6) } yield a ++ b :+ ((40L, 41L))),
    4 -> Gen.choose(1, 12).flatMap(random(-3L, _)))

  val edges: Gen[Seq[Edge]] = for {
    base <- shape
    dups <- Gen.someOf(base)
    flip <- Gen.listOfN(dups.size, Gen.oneOf(false, true))
    loops <- Gen.choose(0, 2).flatMap(n => Gen.listOfN(n, Gen.choose(-3L, 12L).map(v => (v, v))))
    pairs = base ++ dups.zip(flip).map { case ((a, b), f) => if (f) (b, a) else (a, b) } ++ loops
    ws <- Gen.listOfN(pairs.size, weight)
    nulls <- Gen.choose(0, 2).flatMap(n => Gen.listOfN(n, Gen.oneOf[Edge](
      (None, Some(1L), 1L), (Some(2L), None, 1L), (None, None, 1L))))
  } yield pairs.zip(ws).map { case ((a, b), w) => (Option(a), Option(b), w) } ++ nulls

  def frame(spark: SparkSession, es: Seq[Edge]): DataFrame = {
    import spark.implicits._
    es.toDF("src", "dst", "w")
  }

  /** The edges with both endpoints set. */
  def present(es: Seq[Edge]): Seq[(Long, Long, Long)] =
    es.collect { case (Some(a), Some(b), w) => (a, b, w) }

  /** Undirected neighbour sets over the present, non-loop edges. */
  def undirected(es: Seq[Edge]): Map[Long, Set[Long]] =
    present(es).filter(e => e._1 != e._2)
      .flatMap { case (a, b, _) => Seq(a -> b, b -> a) }
      .groupMapReduce(_._1)(e => Set(e._2))(_ ++ _)

  def check(prop: Prop): Unit = {
    val res = Test.check(
      Test.Parameters.default.withInitialSeed(Seed(20261020L))
        .withMinSuccessfulTests(30).withWorkers(1),
      prop)
    assert(res.passed, Pretty.pretty(res))
  }
}
