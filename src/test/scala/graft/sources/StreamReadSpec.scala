package graft.sources

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the layout-awareness of the streaming file read. The failure
  * mode this guards is silent: a glob-filtered read pointed at the sf
  * dir matches a single-FILE `<table>.parquet` but matches NOTHING when
  * the table is a DIRECTORY of part files (every Spark-written table),
  * so the stream runs empty instead of failing — wrong results with
  * impossibly fast timings (caught at the sf10 rung, round 9).
  */
class StreamReadSpec extends AnyFunSuite with SparkTestSession {

  private def countStreamed(sfDir: String): Long =
    graft.streaming.Streams.drain(
      StreamRead.table(spark, sfDir, "documents"), "append",
      s"$sfDir/documents.parquet").count()

  test("single-file layout (driver testdata) streams every row") {
    val expected =
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert(countStreamed("/root/testdata/sf0.001") === expected)
  }

  test("directory layout (Spark-written table) streams every row") {
    val tmp = java.nio.file.Files
      .createTempDirectory("streamread_spec").toString
    try {
      // Spark-written table = directory of part files, the scale-rung
      // and production layout.
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .repartition(3)
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val expected =
        spark.read.parquet(s"$tmp/documents.parquet").count()
      assert(expected > 0)
      assert(countStreamed(tmp) === expected)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
  }
}
