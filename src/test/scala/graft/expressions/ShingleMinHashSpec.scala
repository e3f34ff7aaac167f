package graft.expressions

import graft.SparkTestSession
import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** Pins the compiled shingle/minhash kernels to the composed-expression
  * forms they replace (r16 optimization): values must be bit-identical,
  * including the short/empty-text edge where
  * `sequence(1, greatest(len-k+1, 0))` descends to [1, 0] and yields the
  * whole text as the single shingle.
  */
class ShingleMinHashSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val texts = Seq(
    (1L, "aa bb cc dd aa bb"),
    (2L, ""), // empty: one "" shingle
    (3L, "ab"), // shorter than k: one whole-text shingle
    (4L, "abc"), // exactly k
    (5L, "héllo wörld héllo"), // multi-byte chars: char positions, not bytes
    (6L, "the quick brown fox jumps over the lazy dog"))
    .toDF("doc_id", "text")

  private def composedList(k: Int) =
    expr(s"transform(sequence(1, greatest(length(text) - ${k - 1}, 0))," +
      s" i -> substring(text, i, $k))")

  private def composedShingles(k: Int) = array_distinct(composedList(k))

  test("ShingleSet equals composed array_distinct(transform(...)) form") {
    for (k <- Seq(3, 4)) {
      val rows = texts.select(
        ShingleMinHash.shingleSet(col("text"), k).as("fast"),
        composedShingles(k).as("slow")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"k=$k mismatch: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
      }
    }
  }

  test("ShingleList equals composed transform(...) occurrence form") {
    for (k <- Seq(3, 4)) {
      val rows = texts.select(
        ShingleMinHash.shingleList(col("text"), k).as("fast"),
        composedList(k).as("slow")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"k=$k: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
      }
    }
  }

  private def sigs(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  /** [[Dedup.minhashSigsPerRow]] and [[Dedup.minhashSignaturesPerm]] over
    * [[Dedup.shingleSet]], k = 3 and 32 hashes, as (fast, slow). */
  private def bothSigs(docs: DataFrame) = (
    sigs(Dedup.minhashSigsPerRow(docs, "doc_id", "text", 3, 32)),
    sigs(Dedup.minhashSignaturesPerm(
      Dedup.shingleSet(docs, "doc_id", "text", 3), 32)))

  test("MinHashSig equals minhashSignaturesPerm over shingleSet") {
    val (fast, slow) = bothSigs(texts)
    assert(fast.keySet == slow.keySet)
    fast.foreach { case (id, sig) =>
      assert(sig == slow(id), s"doc $id signature mismatch")
    }
  }

  test("null text is dropped like the exploded form") {
    val withNull = Seq((1L, "abcdef"), (2L, null))
      .toDF("doc_id", "text")
    val ids = Dedup.minhashSigsPerRow(withNull, "doc_id", "text", 3, 8)
      .select("id").as[Long].collect().toSet
    assert(ids == Set(1L))
  }

  // Generated texts: empty, 1-2 chars, whitespace-only, ASCII, 2-, 3- and
  // 4-byte UTF-8 (the 4-byte ones are surrogate pairs in a Java string)
  // and heavy repeats of a short unit.
  private val genChar: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("a", "b", "c"),
    2 -> Gen.oneOf(" ", "\t", "\n"),
    1 -> Gen.oneOf("é", "ж", "ß"),
    1 -> Gen.oneOf("€", "中", "ह"),
    1 -> Gen.oneOf("😀", "𝄞", "🂡"))

  private def genString(chars: Gen[String], lo: Int, hi: Int): Gen[String] =
    Gen.choose(lo, hi).flatMap(Gen.listOfN(_, chars)).map(_.mkString)

  private val genText: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    2 -> genString(genChar, 1, 2),
    1 -> genString(Gen.oneOf(" ", "\t"), 1, 5),
    2 -> genString(Gen.alphaNumChar.map(_.toString), 3, 30),
    3 -> genString(genChar, 3, 40),
    1 -> (for (u <- genString(genChar, 1, 3); n <- Gen.choose(2, 15))
      yield u * n))

  test("property: the kernels equal their composed forms on generated texts") {
    val genDocs = Gen.choose(1, 40).flatMap(Gen.listOfN(_, genText))
    val prop = Prop.forAllNoShrink(genDocs) { ts =>
      val docs = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val arrays = Seq(3, 4).flatMap { k =>
        docs.select(col("text"),
            ShingleMinHash.shingleSet(col("text"), k), composedShingles(k),
            ShingleMinHash.shingleList(col("text"), k), composedList(k))
          .collect().toSeq.map { r =>
            val t = r.getString(0)
            (Prop(r.getSeq[String](1) == r.getSeq[String](2)) :|
              s"ShingleSet k=$k of ${t.map(_.toInt)}: ${r.get(1)} vs ${r.get(2)}") &&
              (Prop(r.getSeq[String](3) == r.getSeq[String](4)) :|
                s"ShingleList k=$k of ${t.map(_.toInt)}: ${r.get(3)} vs ${r.get(4)}")
          }
      }
      val (fast, slow) = bothSigs(docs)
      arrays.foldLeft(Prop(fast == slow) :| s"signatures of $ts")(_ && _)
    }
    val res = Test.check(
      Test.Parameters.default.withInitialSeed(Seed(20261019L))
        .withMinSuccessfulTests(25).withWorkers(1),
      prop)
    assert(res.passed, Pretty.pretty(res))
  }
}
