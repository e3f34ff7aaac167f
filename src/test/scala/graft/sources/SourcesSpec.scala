package graft.sources

import graft.SparkTestSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("submission CSV sink writes header id,label and round-trips") {
    val df = Seq((1L, 0L), (2L, 1L), (3L, 0L)).toDF("id", "label")
      .withColumn("extra", org.apache.spark.sql.functions.lit("drop me"))
    val dir = java.nio.file.Files.createTempDirectory("sub").toString + "/out"
    Sources.writeSubmissionCsv(df, dir)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("label", LongType)))
    val back = Sources.readCsv(spark, dir, schema)
    assert(back.columns.toSeq == Seq("id", "label"))
    assert(back.count() == 3)
    assert(back.filter("label = 1").select("id").head().getLong(0) == 2L)
  }

  test("CSV round-trip keeps empty, whitespace-only, NULL and multi-byte texts") {
    val texts = Seq(Some(""), Some("   "), None, Some("héllo 😀 "), Some(" a\tb "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("csv").toString + "/out"
    Sources.writeSubmissionCsv(df, dir, cols = Seq("id", "text"), singleFile = false)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val back = Sources.readCsv(spark, dir, schema).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).sortBy(_._1).toSeq
    assert(back == texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
  }
}
