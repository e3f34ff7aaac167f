package graft.dedup

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  val docs = Seq(
    (1L, "aa bb cc dd"), (2L, "aa bb cc dd"), (3L, "aa bb cc ee"),
    (4L, "zz yy xx ww")).toDF("doc_id", "text")

  test("exact dedup finds identical texts, keeps min id") {
    val g = Dedup.exactDupGroups(docs, "doc_id", col("text")).collect()
    assert(g.length == 1)
    assert(g(0).getAs[Long]("n") == 2 && g(0).getAs[Long]("keep_id") == 1L)
  }

  test("shingle jaccard: identical docs = 1, disjoint pairs dropped") {
    val sh = Dedup.shingleSet(docs, "doc_id", "text", 3)
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val j = Dedup.jaccardForPairs(sh, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) > 0 && j((1L, 3L)) < 1)
    assert(!j.contains((1L, 4L))) // zero intersection -> dropped
  }

  test("minhash estimate: identical docs share full signature; LSH pairs them") {
    val sh = Dedup.shingleSet(docs, "doc_id", "text", 3)
    val sigs = Dedup.minhashSignaturesPerm(sh, 16)
    val cand = Dedup.lshCandidates(sigs, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cand((1L, 2L)) == 1.0)
    assert(!cand.contains((1L, 4L)))
  }

  test("connected components: chain + pair collapse to min ids") {
    // 1-2-3 is a chain (2-3 only via transitivity), 10-11 a pair
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components: long path needs propagation rounds; empty ok") {
    val path = (1L to 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.keySet == (1L to 10L).toSet && comp.values.forall(_ == 1L))
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty).count() == 0)
  }

  test("connected components: a 60-vertex path runs to its fixpoint") {
    // 60 rounds: more than any fixed round cap of 40 would allow
    val path = (1L to 59L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.keySet == (1L to 60L).toSet && comp.values.forall(_ == 1L))
  }

  test("connected components: an edge with a null endpoint is dropped") {
    // 3 appears only beside a null: not a vertex of the graph
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(2L), Some(1L)), (Some(3L), None), (None, None), (None, Some(2L)))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L))
  }

  test("connected components: each propagation round is one Spark job") {
    def jobsForPath(n: Long): Int = jobsOf(Dedup.connectedComponents(
      (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")))._1
    // a path 1-2-...-n takes n rounds: n - 1 carry label 1 to vertex n,
    // one more sees no change
    assert(jobsForPath(8) - jobsForPath(4) == 8 - 4)
  }

  test("star bucket edges span the same components as the full bucket-pair graph") {
    // harness slice: enough docs for multi-member buckets
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 200)
    val sh = Dedup.shingleSet(d, "doc_id", "text", 3)
    val sigs = Dedup.minhashSignaturesPerm(sh, 16)
    val star = Dedup.lshBucketStarEdges(sigs, 4)
    // full UNVERIFIED candidate-pair graph: every pair sharing a bucket
    // (lshCandidates output before any est threshold)
    val full = Dedup.lshCandidates(sigs, 4)
      .select("id_a", "id_b")
    def comps(e: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(e).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cs = comps(star)
    val cf = comps(full)
    assert(cs == cf, "star reduction must preserve bucket connectivity")
    assert(cs.nonEmpty)
    // and the star edge set is no larger than members-1 per bucket
    assert(star.count() <= full.count())
  }

  test("bucket-hit ids equal the distinct new-side ids of the cross-set pair chain") {
    // split the harness slice into a "shard" and a "corpus"; the semi-join
    // form must flag exactly the shard docs that the verified-pair form
    // generates ANY candidate for (bucket sharing is the candidate
    // condition — est filtering happens after, which is the declared
    // semantic difference of the scale mode)
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 200)
    val sh = Dedup.shingleSet(d, "doc_id", "text", 3)
    val sigs = Dedup.minhashSignaturesPerm(sh, 16)
    val ns = sigs.filter(col("id") % 10 === 0)
    val os = sigs.filter(col("id") % 10 =!= 0)
    val hits = Dedup.lshBucketHitIds(ns, os, 4)
      .collect().map(_.getLong(0)).toSet
    val pairIds = Dedup.lshCandidatesAcross(ns, os, 4)
      .select("id_a").distinct().collect().map(_.getLong(0)).toSet
    assert(hits == pairIds)
    assert(hits.nonEmpty)
    assert(hits.forall(_ % 10 == 0))
  }

  test("simhash: identical docs get identical fingerprints, different differ") {
    val fp = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(4L))
  }

  test("md5Hash60 pins the DuckDB hex-parse value (cross-engine contract)") {
    // DuckDB: CAST(concat('0x', substring(md5('abc|0'),1,15)) AS BIGINT)
    //       = 300303866143307028 (verified against duckdb directly)
    val got = Seq("abc").toDF("s")
      .select(Dedup.md5Hash60(col("s"), 0)).head().getLong(0)
    assert(got == 300303866143307028L)
    assert(got >= 0 && got < (1L << 60)) // 15 hex chars = 60 bits, no sign
  }

  test("md5-permutation minhash stays in [0, P31); 60-bit simhash in range") {
    val sh = Dedup.shingleSet(docs, "doc_id", "text", 3)
    val checkable = Dedup.lshCandidates(Dedup.minhashSignaturesPerm(sh, 16), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // permutation family stays in [0, P31)
    val sig = Dedup.minhashSignaturesPerm(sh, 16)
      .select(org.apache.spark.sql.functions.explode(col("sig")))
      .collect().map(_.getLong(0))
    assert(sig.forall(v => v >= 0 && v < Dedup.P31))
    // exact duplicates are found with est = 1.0
    assert(checkable((1L, 2L)) == 1.0)
    assert(!checkable.contains((1L, 4L)))
    // the 60-bit simhash is engine-stable
    val fp60 = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp60(1L) == fp60(2L) && fp60(1L) != fp60(4L))
    assert(fp60.values.forall(v => v >= 0 && v < (1L << 60)))
  }

  test("simhash hamming pairs: banded blocking is lossless under pigeonhole") {
    import spark.implicits._
    // crafted fingerprints with known pairwise Hamming distances
    val base = (1L << 59) | (1L << 31) | (1L << 3)
    val sh = Seq(
      (1L, base),                    // reference
      (2L, base),                    // dist 0
      (3L, base ^ (1L << 17)),       // dist 1
      (4L, base ^ 7L),               // dist 3 (bits 0..2, one band)
      (5L, base ^ (1L << 0) ^ (1L << 16) ^ (1L << 32) ^ (1L << 48))
    ).toDF("id", "simhash")          // 5: dist 4 spread over ALL 4 bands
    val got = Dedup.simhashHammingPairs(sh, nBands = 4, bandBits = 15, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 2L)) == 0L && got((1L, 3L)) == 1L && got((1L, 4L)) == 3L)
    assert(got((2L, 3L)) == 1L && got((2L, 4L)) == 3L)
    assert(!got.contains((3L, 4L))) // dist 4 > maxDist -> filtered
    // dist-4-spread-over-all-bands shares NO band -> correctly absent
    // (it also exceeds maxDist, so losslessness is not violated)
    assert(!got.contains((1L, 5L)))
    // every reported pair respects the threshold
    assert(got.values.forall(_ <= 3L))
  }

  test("dup leakage matrix counts within- and cross-group dup pairs") {
    // fp "k1": 2 docs in s1, 1 in s2 -> (s1,s1)=1, (s1,s2)=2
    // fp "k2": 2 docs in s2 -> (s2,s2)=1 ; unique fps contribute nothing
    val df = Seq(
      ("k1", "s1"), ("k1", "s1"), ("k1", "s2"),
      ("k2", "s2"), ("k2", "s2"), ("u1", "s1"), ("u2", "s2"))
      .toDF("fp", "source")
    val got = Dedup.dupLeakageMatrix(df, col("fp"), "source").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("s1", "s1") -> 1L, ("s1", "s2") -> 2L, ("s2", "s2") -> 1L))
  }

  test("all-pairs jaccard: prefix filtering is lossless vs brute force") {
    // 40 docs: 10 planted near-dup pairs (high overlap), 20 random-ish
    val texts = (0 until 10).flatMap { i =>
      val base = s"doc $i shared payload " + ("abcdefghij".map(c => s"$c$i ").mkString)
      Seq((i * 2L, base + "tail one"), (i * 2L + 1, base + "tail two"))
    } ++ (100 until 120).map(i => (i.toLong, s"unique text $i " + "%03d".format(i * 7)))
    val df = texts.toDF("doc_id", "text")
    val sh = Dedup.shingleSet(df, "doc_id", "text", 3)
    val got = Dedup.allPairsJaccard(sh, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute force over all id pairs via jaccardForPairs
    val ids = texts.map(_._1)
    val all = (for { a <- ids; b <- ids if a < b } yield (a, b)).toDF("id_a", "id_b")
    val brute = Dedup.jaccardForPairs(sh, all)
      .filter(col("jaccard") >= 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == brute)
    assert(got.size == 10) // exactly the planted pairs
    assert(got.keys.forall { case (a, b) => b == a + 1 && a % 2 == 0 })
  }

  test("all-pairs jaccard: lossless on randomized corpora at several thresholds") {
    val rnd = new scala.util.Random(42)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    // 30 docs of 5-12 words; seeded -> deterministic spec
    val texts = (0 until 30).map { i =>
      val n = 5 + rnd.nextInt(8)
      (i.toLong, Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" "))
    }
    val df = texts.toDF("doc_id", "text")
    val sh = Dedup.shingleSet(df, "doc_id", "text", 3)
    val ids = texts.map(_._1)
    val all = (for { a <- ids; b <- ids if a < b } yield (a, b))
      .toDF("id_a", "id_b")
    for (t <- Seq(0.5, 0.7, 0.9)) {
      val got = Dedup.allPairsJaccard(sh, t).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val brute = Dedup.jaccardForPairs(sh, all)
        .filter(col("jaccard") >= t).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got == brute, s"prefix filtering lost pairs at t=$t")
    }
  }
}
